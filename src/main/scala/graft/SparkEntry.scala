package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.functions.{ArrayFunctions, TextFunctions}
import graft.operators.{Annotate, AsOfJoin, Blocks, Concat, Corpus, Dedup, Eval, Events, Experiment, Fuzzy, General, Grouped, Maintain, Moments, Multimodal, Preference, Profile, Reshape, Sessionize, Similarity, Stats}
import graft.sources.{Sinks, Tables}

/** Driver contract — one `queries` entry (+ DuckDB `oracleSql`) per
  * implemented operator from SURVEY.md §2.
  *
  * Float-sum determinism: double addition is order-dependent, and Spark
  * and DuckDB aggregate in different orders. Queries therefore aggregate
  * monetary doubles through DECIMAL(18,2) (exact, order-independent) and
  * cast the final value back to double — both engines produce the
  * bit-identical result the driver's hash compare needs.
  */
object SparkEntry {

  private def decSum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Flagship query on sf0.001: schema-harmonizing concat (lattice
    * coercion + null-fill + key column) feeding an aggregation. */
  def entry(spark: SparkSession): DataFrame =
    q05ConcatUnion(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- q01
  /** Baseline grouped aggregation over lineitem (pushdown + partial agg). */
  private def q01SumAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        decSum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag", "l_linestatus")

  // ---------------------------------------------------------------- q05
  /** `concat` end-to-end: two divergent projections of lineitem — double
    * vs int quantity (lattice widens back to double) and a column missing
    * from one side (null-filled) — keyed by source, then aggregated. */
  private def q05ConcatUnion(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val a = li.select(col("l_orderkey"), col("l_returnflag"),
      col("l_quantity").as("qty"))
    val b = li.select(col("l_orderkey"), col("l_returnflag"),
      col("l_quantity").cast("int").as("qty"), col("l_tax").as("tax"))
    Concat.concat(Seq(a, b), Seq("a", "b"), "src")
      .groupBy("src", "l_returnflag")
      .agg(
        decSum(col("qty")).as("sum_qty"),
        decSum(col("tax")).as("sum_tax"),
        count(lit(1)).as("n_rows"))
      .orderBy("src", "l_returnflag")
  }

  // ---------------------------------------------------------------- q02
  /** Schema-introspection-driven query: `fields` discovers the double
    * columns to aggregate, `to_list` collects a small driver-side key
    * list that parameterizes the filter, and the filter itself is
    * chained through the fluent `transform` surface. The introspection
    * results (column count, DDL length) are emitted as data so the
    * oracle checks them by value. */
  private def q02SchemaIntrospect(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val doubleCols = General.fields(li)
      .filter(_.dataType == DoubleType).map(_.name).sorted
    val flags = General.toList(
        li.select("l_returnflag").distinct().orderBy("l_returnflag").limit(2))
      .map(_.toString)
    li.transform(df => df.filter(col("l_returnflag").isin(flags: _*)))
      .groupBy("l_returnflag")
      .agg(
        doubleCols.map(c => decSum(col(c)).as(s"sum_$c")).head,
        doubleCols.map(c => decSum(col(c)).as(s"sum_$c")).tail: _*)
      .withColumn("n_fields", lit(General.fields(li).length))
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------------------- q03
  /** Catalog/file-existence checks as data: a temp view is registered,
    * then `tableColumns`, `tableExists`, and the memoized `fileExists`
    * results ride along a per-region rollup so the oracle verifies
    * them by value (wrong column count -> hash mismatch). */
  private def q03Catalog(s: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(s, dir)
    nation.createOrReplaceTempView("nation_v")
    val cols = General.tableColumns(s, "nation_v")
    val viewExists = General.tableExists(s, "nation_v")
    val ghostExists = General.tableExists(s, "no_such_table_v")
    val fileOk = General.fileExists(s, s"$dir/nation.parquet")
    val fileGhost = General.fileExists(s, s"$dir/no_such_file.parquet")
    nation.groupBy("n_regionkey")
      .agg(count(lit(1)).as("n_nations"))
      .withColumn("n_cols", lit(cols.length))
      .withColumn("view_exists", lit(viewExists))
      .withColumn("ghost_exists", lit(ghostExists))
      .withColumn("file_exists", lit(fileOk))
      .withColumn("ghost_file_exists", lit(fileGhost))
      .orderBy("n_regionkey")
  }

  // ---------------------------------------------------------------- q04
  /** Partition-only analytic windows (`get_window_spec`), both variants
    * applied the way the docs prescribe — to ALREADY-REDUCED frames. A
    * partial groupBy first collapses the fact table to 6 rows (exact
    * decimal partials, so the window over partials equals the window
    * over raw rows); the grouped window then runs per flag and the
    * whole-frame (1-partition) window computes the grand total over 3
    * rows. Windowing the raw 600k-row frame into 3 partitions — the
    * naive formulation — shuffles everything into 3 straggler sorts
    * for identical output. */
  private def q04WindowSum(s: SparkSession, dir: String): DataFrame = {
    val partial = Tables.lineitem(s, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("part_qty"))
    partial.select(col("l_returnflag"),
        sum(col("part_qty"))
          .over(General.windowSpec(Seq("l_returnflag")))
          .cast(DoubleType).as("flag_qty"))
      .distinct()
      .withColumn("grand_qty",
        sum(col("flag_qty").cast(DecimalType(18, 2)))
          .over(General.windowSpec()).cast(DoubleType))
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------------------- q06
  /** `map_col` literal-map recode: plan-embedded lookup, no shuffle. */
  private def q06MapCol(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir)
      .select(col("n_nationkey"), col("n_name"),
        General.mapCol("n_regionkey",
          Seq(0 -> "zone_a", 1 -> "zone_b", 2 -> "zone_c")).as("zone"))
      .orderBy("n_nationkey")

  // ---------------------------------------------------------------- q07
  /** `map_column_names` bulk rename as a single projection. */
  private def q07Rename(s: SparkSession, dir: String): DataFrame =
    General.mapColumnNames(
        Tables.part(s, dir).filter(col("p_size") > 25),
        Map("p_retailprice" -> "price", "p_size" -> "size"))
      .select("p_partkey", "p_brand", "size", "price")
      .orderBy("p_partkey")

  // ---------------------------------------------------------------- q08
  /** `get_first_group` on a deterministically-ordered frame: filter to
    * the minimum o_orderstatus group, then aggregate it. */
  private def q08FirstGroup(s: SparkSession, dir: String): DataFrame =
    General.firstGroup(
        Tables.orders(s, dir).orderBy("o_orderstatus"), Seq("o_orderstatus"))
      .groupBy("o_orderstatus")
      .agg(decSum(col("o_totalprice")).as("sum_price"),
        count(lit(1)).as("n_orders"))

  // ---------------------------------------------------------------- q09
  /** Array first-difference (`diff` UDF) as codegen'd built-ins. */
  private def q09ArrayDiff(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        ArrayFunctions.arrayDiff(col("embedding")).as("d"))
      .select(col("vec_id"),
        size(col("d")).as("n_diffs"),
        round(element_at(col("d"), 1).cast(DoubleType), 4).as("d1"))
      .orderBy("vec_id")

  // ---------------------------------------------------------------- q10
  /** Grouped-map lifting (`convert_to_pandas_udf` contract): a per-group
    * JVM closure over each customer's orders, keys re-broadcast onto the
    * output. Exact decimal accumulation inside the closure keeps the
    * double result order-independent. */
  private def q10GroupedApply(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val orders = Tables.orders(s, dir).select("o_custkey", "o_totalprice")
    Grouped.applyPerGroup(orders, Seq("o_custkey"),
      StructType(Seq(
        StructField("sum_price", DoubleType),
        StructField("n_orders", LongType)))) { rows =>
      var n = 0L
      var total = java.math.BigDecimal.ZERO
      rows.foreach { r =>
        n += 1
        total = total.add(java.math.BigDecimal.valueOf(r.getDouble(1))
          .setScale(2, java.math.RoundingMode.HALF_UP))
      }
      Iterator(Row(total.doubleValue(), n))
    }.orderBy("o_custkey")
  }

  // ---------------------------------------------------------------- q11
  /** Stacker.unstack as groupBy().pivot() with explicit pivot values
    * (skips the distinct-discovery job; bounds output width). */
  private def q11Pivot(s: SparkSession, dir: String): DataFrame =
    Reshape.unstack(
        Tables.lineitem(s, dir),
        idCols = Seq("l_returnflag"),
        pivotCol = "l_linestatus",
        valueCol = "l_quantity",
        pivotValues = Seq("F", "O"),
        agg = c => sum(c.cast(DecimalType(18, 2))).cast(DoubleType))
      .orderBy("l_returnflag")

  // ---------------------------------------------------------------- q12
  /** Within-fiscal-year forward fill (`shifted_within_year_ffill`) as a
    * single sorted window pass per (user, fiscal-year) partition. */
  private def q12WithinYearFfill(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir).select(
      col("user_id"), col("ts"), col("event_id"),
      when(col("event_type") =!= "error", col("value")).as("v"))
    Reshape.shiftedWithinYearFfill(base, "ts", "v",
        keys = Seq("user_id"), tieBreak = Seq("event_id"))
      .groupBy("user_id")
      .agg(decSum(col("v")).as("sum_v"), count(col("v")).as("n_filled"))
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------- q13
  /** Exact dedup: double the corpus, dedup on the normalized-text md5
    * fingerprint keeping the lowest doc_id, count per language.
    *
    * Uses the PAYLOAD-FREE dedup shape: fingerprints are computed
    * map-side, the winner election shuffles only (fingerprint, doc_id)
    * pairs, and the narrow (fingerprint, doc_id, lang) projection joins
    * back — the document text never enters a shuffle. The full-row
    * [[Dedup.exactTextDedup]] (min_by of the whole row) is the right
    * tool when the OUTPUT is the deduped corpus; for an aggregate over
    * survivors, shipping text would waste the whole corpus's bytes
    * through the exchange at 100 TB. */
  private def q13DedupExact(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val u = Concat.concat(Seq(docs, docs))
    val keyed = u.select(col("doc_id"), col("lang"),
      md5(graft.expressions.GraftFunctions.cleanText(u, lower(col("text")))).as("__fp"))
    val winners = Dedup.exactDedupIds(
      keyed.select("__fp", "doc_id"), Seq("__fp"), "doc_id")
    keyed.join(winners, Seq("__fp", "doc_id"))
      .select("doc_id", "lang").distinct() // both corpus copies of a winner collapse
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .orderBy("lang")
  }

  // ---------------------------------------------------------------- q14
  /** MinHash+LSH near-dup pairs, exact-Jaccard verified. The oracle is
    * the full exact-Jaccard pair set at the same threshold: every >=0.5
    * pair in this corpus has Jaccard >= 0.9, where 16-band/4-row LSH
    * detection probability is 1-(1-0.9^4)^16 ~ 1, so the LSH output must
    * equal the exact set — the oracle checks the Jaccard math AND that
    * banding lost nothing. */
  private def q14MinhashNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashNearDupPairs(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("id_a", "id_b")

  // ---------------------------------------------------------------- q15
  /** SimHash corpus signatures. Uses the md5-derived portable token hash
    * (instead of the default xxhash64 fast path) so the DuckDB oracle
    * reproduces the exact signature bits value-for-value. */
  private def q15Simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simHash32(Tables.documents(s, dir), "text", "simhash",
        tokenHash = TextFunctions.portableTokenHash32)
      .select(col("doc_id"), col("simhash"),
        TextFunctions.rollingHash(col("text"),
          TextFunctions.portableTokenHash32).as("rolling_fp"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------- q16
  /** Text analysis: token counts, language ID, quality metrics — all
    * codegen'd expressions, exactly mirrored in the SQL oracle. */
  private def q16TextStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.bpeTokenCount(col("text")).as("n_bpe_tokens"),
        TextFunctions.langId(col("text")).as("lang_guess"),
        TextFunctions.qualityMetrics(col("text")).as("m"))
      .select(col("doc_id"), col("n_tokens"), col("n_bpe_tokens"),
        col("lang_guess"),
        col("m.mean_token_len").as("mean_token_len"),
        col("m.alnum_ratio").as("alnum_ratio"),
        col("m.stopword_ratio").as("stopword_ratio"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------- q17
  /** Brute-force cosine top-k against the vec_id=0 embedding. */
  private def q17SimilarityTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val query = emb.filter(col("vec_id") === 0L)
      .head().getSeq[Float](emb.schema.fieldIndex("embedding"))
    Similarity.bruteForceTopK(emb.filter(col("vec_id") =!= 0L),
        "vec_id", "embedding", query, 10)
      .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
  }

  // ---------------------------------------------------------------- q18
  /** ANN top-k via sign-LSH bucket pruning, tested in the regime ANN is
    * for: near-duplicate retrieval. The raw embeddings are isotropic
    * (max pairwise cosine ~0.5 — no pruning scheme can keep full recall
    * there), so the query plants three near-dup twins per vector — one
    * element scaled by a power of two (exact in float AND double, so
    * DuckDB reproduces it bit-for-bit) — and retrieves the query
    * vector's twins. The oracle is the EXACT cosine top-3 over the same
    * augmented corpus: it hash-matches only if LSH pruning achieves
    * full recall on the planted neighbors — a real recall gate. */
  /** Embeddings corpus with `n` planted near-dup twins per vector: twin
    * j scales element j-1 by 2^j — a power of two, so the arithmetic is
    * exact in float AND double and DuckDB reproduces the corpus
    * bit-for-bit. Shared by the ANN recall-gate queries (q18/q24/q25). */
  /** Twin-id arithmetic guard (shared by [[twinCorpus]] and q104): a
    * planted twin lives at id + 1000000*j, which would silently
    * collide with real ids past 1e6 — and because the oracle replays
    * the same arithmetic, a collision corrupts BOTH pair sets
    * identically, so the hash gate could never catch it. Fails loudly
    * map-side instead (no extra driver pass). */
  private def guardedTwinId(id: Column, offset: Long): Column =
    when(id < 0L || id >= 1000000L,
      raise_error(concat(lit("twin ids assume 0 <= id < 1000000, got "),
        id.cast("string"))).cast("bigint"))
      .otherwise(id + lit(offset))

  private def twinCorpus(emb: DataFrame, n: Int): DataFrame = {
    def twin(j: Int): DataFrame = emb.select(
      guardedTwinId(col("vec_id"), 1000000L * j).as("vec_id"),
      transform(col("embedding"),
        (x, i) => when(i === lit(j - 1), x * lit((1 << j).toFloat)).otherwise(x))
        .as("embedding"))
    (1 to n).foldLeft(emb.select("vec_id", "embedding"))(
      (acc, j) => acc.unionByName(twin(j)))
  }

  private def q18AnnTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val corpus = twinCorpus(emb, 3)
    val query = emb.filter(col("vec_id") === 0L)
      .head().getSeq[Float](emb.schema.fieldIndex("embedding"))
    Similarity.annTopK(corpus.filter(col("vec_id") =!= 0L),
        "vec_id", "embedding", query, 3, planes = 10, maxHamming = 2)
      .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
  }

  // ---------------------------------------------------------------- q19
  /** Embedding near-dup pairs in a doc-id window (linear equi-join). */
  private def q19EmbeddingNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.windowedCosinePairs(Tables.embeddings(s, dir),
        "vec_id", "embedding", window = 3, threshold = 0.15)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
      .orderBy("id_a", "id_b")

  // ---------------------------------------------------------------- q20
  /** Multimodal plumbing: text lifted to binary payloads, features via
    * codegen'd built-in expressions (the pluggable-codec mapPartitions
    * path exists separately for real decoders). */
  private def q20Multimodal(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(
        Multimodal.asMedia(Tables.documents(s, dir), "doc_id", "text"))
      .orderBy("media_id")

  // ---------------------------------------------------------------- q21
  /** As-of join (backward, inclusive): each purchase matched to the
    * user's latest prior click — union + one shuffle + running window,
    * never a theta join. Aggregated per user for a stable oracle. */
  private def q21AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    AsOfJoin.asofBackward(purchases, clicks,
        Seq("user_id"), "ts", "ts", Seq("event_id"), rightPrefix = "click_")
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_purchases"),
        count(col("click_event_id")).as("n_matched"),
        sum(unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("sum_delta_us"))
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------- q22
  /** Gap sessionization (30 min): session ids from a running sum over
    * the per-user sorted partition, rolled up per user. */
  private def q22Sessionize(s: SparkSession, dir: String): DataFrame = {
    val sess = Sessionize.sessionize(
      Tables.events(s, dir).select("user_id", "ts", "event_id"),
      Seq("user_id"), "ts", 30L * 60 * 1000000, tieBreak = Seq("event_id"))
    sess.groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        max(col("n")).as("max_session_events"),
        sum(col("n")).as("n_events"))
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------- q23
  /** Generic within-fiscal-year apply (`shifted_within_year_apply` with
    * an arbitrary method, `pandas.py:121-133`): mean-imputation of
    * missing values per (user, Feb..Jan+1 fiscal year) group. The group
    * mean is exact decimal arithmetic: the cent sum divided by the count
    * and rounded HALF_UP to cents, as the oracle does in integer cents.
    * A mean divided in binary double can sit just below a half-cent the
    * decimal mean sits on (user 1209 at sf0.1: 58.214999999999996), and
    * the engines round that double apart. */
  private def q23WithinYearImpute(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val base = Tables.events(s, dir).select(
      col("user_id"), col("ts"),
      when(col("event_type") =!= "error", col("value"))
        .cast(DecimalType(18, 2)).as("v"))
    val vIdx = base.schema.fieldIndex("v") // fiscal-year col is appended AFTER v
    val imputed = Reshape.shiftedWithinYearApply(base, "ts",
        StructType(Seq(StructField("vi", DecimalType(18, 2)))),
        keys = Seq("user_id")) { rows =>
      val buf = rows.toVector
      var n = 0L
      var sum = java.math.BigDecimal.ZERO
      buf.foreach { r =>
        if (!r.isNullAt(vIdx)) { n += 1; sum = sum.add(r.getDecimal(vIdx)) }
      }
      val mean =
        if (n == 0) null
        else sum.divide(java.math.BigDecimal.valueOf(n), 2,
          java.math.RoundingMode.HALF_UP)
      buf.iterator.map { r =>
        Row(if (r.isNullAt(vIdx)) mean else r.getDecimal(vIdx))
      }
    }
    imputed.groupBy("user_id")
      .agg(decSum(col("vi")).as("sum_v"), count(col("vi")).as("n_vals"))
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------- q24
  /** ALL-PAIRS embedding near-dup via banded sign-LSH: the corpus gets
    * two planted near-dup twins per vector (power-of-two single-element
    * scalings, cross-engine exact), and the operator must recover every
    * >=0.9-cosine pair through bucket collisions + exact verify. The
    * oracle is the full exact-threshold pair set — matching requires
    * full LSH recall AND exact scoring, the same gate shape as q14. */
  private def q24LshEmbeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val corpus = twinCorpus(emb, 2)
    Similarity.lshCosineNearDupPairs(corpus, "vec_id", "embedding",
        dims = 64, threshold = 0.9, planes = 16, bands = 8)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
      .orderBy("id_a", "id_b")
  }

  // ---------------------------------------------------------------- q25
  /** IVF ANN over the twin-planted corpus: deterministic hash-sampled
    * k-means centroids (driver-trained), map-only cell assignment via
    * the native cosine, then search probing only the nprobe nearest
    * cells. Oracle = EXACT top-3 over the same corpus (q18's gate
    * shape): a hash match requires the probed cells to contain the true
    * neighbors — a real IVF recall gate. */
  private def q25IvfTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Ivf
    val emb = Tables.embeddings(s, dir)
    val corpus = twinCorpus(emb, 3)
    val query = emb.filter(col("vec_id") === 0L)
      .head().getSeq[Float](emb.schema.fieldIndex("embedding"))
    val model = Ivf.train(corpus, "vec_id", "embedding",
      k = 16, iters = 3, sampleMod = 4)
    val assigned = Ivf.assign(corpus.filter(col("vec_id") =!= 0L), "embedding", model)
    Ivf.search(assigned, "vec_id", "embedding", model, query,
        topK = 3, nprobe = 4)
      .select(col("vec_id"), round(col("cosine"), 4).as("cosine"))
  }

  // ---------------------------------------------------------------- q26
  /** Star-schema rollup: lineitem joins orders and customer on their
    * keys (shuffle hash joins on the fact side), and the nation
    * dimension is EXPLICITLY broadcast — at 100 TB the two fact joins
    * shuffle co-partitioned data once each, while the 25-row dim never
    * shuffles anything. The reference ships no join helpers (SURVEY
    * §2.3); this exercises the engine's join planning end-to-end. */
  private def q26StarJoin(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(
        decSum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")

  // ---------------------------------------------------------------- q27
  /** Corpus token frequencies: explode -> map-side-combined count ->
    * top-20. The shuffle carries one row per distinct token per
    * partition (vocabulary-bounded); the top-k is TakeOrdered, no full
    * sort. */
  private def q27TokenFreq(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    Corpus.tokenFrequencies(Tables.documents(s, dir), "text")
      .orderBy(col("freq").desc, col("token"))
      .limit(20)
  }

  // ---------------------------------------------------------------- q28
  /** SimHash near-dup pairs with the banded pigeonhole guarantee
    * (maxHamming=3 <= bands-1 ⇒ full recall by construction). Portable
    * md5-derived token hash, so the oracle recomputes the signatures
    * AND the exact hamming pair set value-for-value — the LSH must
    * recover every pair or the hash mismatches.
    *
    * maxBucket is raised to 10000 here because a 32-bit signature
    * banded 4 ways has only 256 possible keys per band: bucket
    * population grows ~n/256, and at 5000 docs the hottest bucket
    * already exceeds the 1000 default (the strict oversize guard
    * caught this at bench scale — previously those pairs were lost
    * silently). Scaling maxBucket with n keeps the guarantee but grows
    * the bucket-local pair expansion quadratically — which is exactly
    * why the 64-bit variant (q39: 65536 keys per band) is the
    * corpus-scale default and this one is documented for <=1e5 docs. */
  private def q28SimhashNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashNearDupPairs(Tables.documents(s, dir), "doc_id", "text",
        maxHamming = 3, bands = 4, maxBucket = 10000,
        tokenHash = TextFunctions.portableTokenHash32)
      .orderBy("id_a", "id_b")

  // ---------------------------------------------------------------- q29
  /** Semi-structured extraction: events.props is a JSON string; parse
    * with a schema-aware from_json (codegen'd, no UDF) and roll up per
    * event type. Exact integer oracle via DuckDB's json extraction. */
  private def q29JsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  // ---------------------------------------------------------------- q30
  /** TF-IDF pipeline: per-doc term frequencies joined with the
    * document-frequency table (join strategy left to AQE — at this SF
    * it broadcasts; at web-scale vocabulary it degrades to a shuffle
    * join instead of an OOM). The oracle checks the exact
    * integer components (tf, doc_freq) for the highest-tf terms; the
    * floating tfidf weight is spec-verified (ln differs by ulps across
    * libm implementations, so it stays out of the hash compare). */
  private def q30Tfidf(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    Corpus.tfidf(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("token"), col("tf"), col("doc_freq"))
      .orderBy(col("tf").desc, col("doc_id"), col("token"))
      .limit(50)
  }

  // ---------------------------------------------------------------- q31
  /** Grouped top-k via the custom bounded-heap Aggregator (udaf): each
    * map task pre-reduces its slice to k elements before the shuffle,
    * unlike the window row_number formulation that sorts whole groups
    * in one task. Oracle = the window formulation in DuckDB. */
  private def q31GroupedTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Aggregators
    val scored = Tables.documents(s, dir).select(col("lang"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"), col("doc_id"))
    Aggregators.topKPerGroup(scored, Seq("lang"), "n_tokens", "doc_id", 3)
      .select(col("lang"), col("doc_id"),
        col("n_tokens").cast("int").as("n_tokens"))
      .orderBy(col("lang"), col("n_tokens").desc, col("doc_id"))
  }

  // ---------------------------------------------------------------- q32
  /** Deterministic hash-sampled split: keep docs whose portable id-hash
    * lands in residue 0 mod 8 (~1/8 of the corpus, reproducible in any
    * engine with md5), then roll up per language. The oracle recomputes
    * the identical split — a wrong hash, mod, or cast changes the
    * sample membership and the hash compare fails. */
  private def q32HashSample(s: SparkSession, dir: String): DataFrame =
    General.hashSample(Tables.documents(s, dir), "doc_id", m = 8,
        hash = c => TextFunctions.portableTokenHash32(c.cast("string")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy("lang")

  // ---------------------------------------------------------------- q33
  /** Exact quantiles per group: `percentile` (exact linear
    * interpolation, one sort-based aggregation per group). Hash-exact
    * across engines here because l_quantity is integer-valued and the
    * quartile fractions are dyadic, so every interpolated value is
    * exactly representable — the oracle-safety reasoning, not an
    * accident. For 100 TB use approx_percentile (t-digest, mergeable,
    * no per-group sort); it is engine-specific so the exact form is
    * what the oracle checks. */
  private def q33Quantiles(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))").as("q"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        element_at(col("q"), 1).as("p25"),
        element_at(col("q"), 2).as("p50"),
        element_at(col("q"), 3).as("p75"),
        col("n"))
      .orderBy("l_returnflag")

  // ---------------------------------------------------------------- q34
  /** Hierarchical rollup (GROUPING SETS surface inherited from Spark):
    * per-(flag, status) subtotals, per-flag totals, and the grand
    * total in ONE aggregation pass — partial aggregation applies to
    * every grouping set, so this stays a single shuffle. `grouping()`
    * flags distinguish subtotal rows from data NULLs. */
  private def q34Rollup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        decSum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows"),
        grouping(col("l_returnflag")).as("g_flag"),
        grouping(col("l_linestatus")).as("g_status"))
      .orderBy(col("g_flag"), col("g_status"), col("l_returnflag"),
        col("l_linestatus"))

  // ---------------------------------------------------------------- q35
  /** Bounded range join via time bucketing: purchase-click pairs of the
    * same user within +/-30 minutes, counted per user. The raw range
    * predicate would plan a nested-loop join; bucketing turns it into
    * one hash equi-join with a 3x-amplified left side. */
  private def q35RangeJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.RangeJoin
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    RangeJoin.rangeJoin(purchases, clicks, Seq("user_id"), "ts", "ts",
        deltaUs = 30L * 60 * 1000000, rightValues = Seq("event_id"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("event_id")).as("n_purchases_matched"))
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------- q36
  /** Contiguous row ids over a range-partitioned sort (DataFrame
    * zipWithIndex — no single-partition window). The oracle is the
    * window formulation, which is only viable at oracle scale. */
  private def q36RowIds(s: SparkSession, dir: String): DataFrame =
    General.withContiguousRowIds(
        Tables.documents(s, dir).select("doc_id", "lang"), Seq("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("row_id")).as("sum_row_id"),
        min(col("row_id")).as("min_row_id"))
      .orderBy("lang")

  // ---------------------------------------------------------------- q37
  /** Dimension-chain rollup over the remaining tables: suppliers
    * through nation to region, both dims broadcast (a 25-row and a
    * 5-row table never justify a shuffle). */
  private def q37SupplierRegion(s: SparkSession, dir: String): DataFrame =
    Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(
        count(lit(1)).as("n_suppliers"),
        decSum(col("s_acctbal")).as("sum_acctbal"))
      .orderBy("r_name")

  // ---------------------------------------------------------------- q38
  /** Sliding-window token chunking (64-token windows, stride 48 — 16
    * tokens of overlapping context): the packing step of a training
    * pipeline. The oracle recomputes every (doc, chunk) window length
    * arithmetically, so window count, boundaries, and tail handling
    * must all agree. */
  private def q38ChunkTokens(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    Corpus.chunkTokens(Tables.documents(s, dir), "doc_id", "text",
        chunkSize = 64, stride = 48)
      .select(col("doc_id"), col("chunk_id"), col("n_chunk_tokens"))
      .orderBy("doc_id", "chunk_id")
  }

  // ---------------------------------------------------------------- q39
  /** 64-bit SimHash near-dup pairs — the corpus-scale variant of q28:
    * 16-bit band keys (65536 buckets vs 32-bit's 256) keep the
    * pigeonhole guarantee (maxHamming=3 <= bands-1 ⇒ full recall)
    * healthy to ~10^8 docs, and an oversize bucket now FAILS the job
    * rather than silently dropping recall. The md5-derived portable
    * 64-bit token hash lets the oracle recompute the exact signatures
    * AND the full hamming pair set value-for-value. */
  private def q39Simhash64NearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashNearDupPairs64(Tables.documents(s, dir), "doc_id", "text",
        maxHamming = 3, bands = 4,
        tokenHash = TextFunctions.portableTokenHash64)
      .orderBy("id_a", "id_b")

  // ---------------------------------------------------------------- q40
  /** Salted-join equality gate: lineitem joins its per-flag stats on
    * l_returnflag — a deliberately pathological key (3 distinct values
    * over the whole fact table, the skew shape that strands a plain
    * hash join's hot key in one task). The salted form spreads each
    * flag over 8 salt partitions by replicating the small side; the
    * oracle is the PLAIN join's aggregate, so the salt must change the
    * partitioning and nothing else — row counts, sums, and the joined
    * dimension values all hash-checked. */
  private def q40SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Skew
    val li = Tables.lineitem(s, dir)
    val flagStats = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("flag_rows"),
        decSum(col("l_extendedprice")).as("flag_price"))
    Skew.saltedJoin(
        li.select("l_orderkey", "l_returnflag", "l_quantity"),
        flagStats, Seq("l_returnflag"), saltBy = "l_orderkey", nSalts = 8)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        decSum(col("l_quantity")).as("sum_qty"),
        max(col("flag_rows")).as("flag_rows"),
        max(col("flag_price")).as("flag_price"))
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------------------- q41
  /** STREAMING correctness gate, sessionization: the events table is
    * replayed through a file stream into the stateful
    * `flatMapGroupsWithState` sessionizer (per-key flush sentinels
    * close every real session), and the emitted sessions roll up to
    * exactly q22's per-user stats — the oracle is q22's batch SQL
    * verbatim, so the incremental operator faces the same value gate
    * as its batch twin. */
  private def q41StreamSessionize(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.replaySessionize(
        Tables.events(s, dir), 30L * 60 * 1000000)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        max(col("n_events")).as("max_session_events"),
        sum(col("n_events")).as("n_events"))
      .orderBy("user_id")

  // ---------------------------------------------------------------- q42
  /** STREAMING correctness gate, watermarked windowed aggregation: a
    * global sentinel pushes the watermark past every real 5-minute
    * window so append mode flushes them all; the emitted (window,
    * event_type) counts and decimal-exact value sums must equal the
    * plain batch rollup the oracle computes. Window starts are emitted
    * as epoch µs (integer arithmetic on both engines — the µs epoch
    * exceeds double's mantissa, so no float bucketing anywhere). */
  private def q42StreamWindowedCounts(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.replayWindowedCounts(Tables.events(s, dir),
        "5 minutes", "5 minutes", "10 minutes", horizonUs = 3600L * 1000000)
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"), col("value_sum"))
      .orderBy("window_start_us", "event_type")

  // ---------------------------------------------------------------- q43
  /** STREAMING correctness gate, watermarked dedup: the replay runs
    * dropDuplicatesWithinWatermark over (user_id, event_type) and the
    * survivors must aggregate to exactly the batch DISTINCT — count
    * AND id-sum per event type, so a wrong or duplicated survivor
    * changes the hash. */
  private def q43StreamDedup(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.replayDedup(Tables.events(s, dir),
        Seq("user_id", "event_type"), "10 minutes")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"), sum(col("user_id")).as("sum_uid"))
      .orderBy("event_type")

  // ---------------------------------------------------------------- q44
  /** Windowed n-gram Jaccard near-dup pairs — the exact, linear text
    * dedup: each doc compared to its 25 id-successors on 3-gram
    * shingle Jaccard via a BUCKETED `id div window` self-join (probe
    * side once, build side in its own and the previous bucket; delta
    * is a post-join filter), so each hashed shingle set crosses the
    * exchange at most 3 times and the join stays an equi hash join,
    * never a range nested-loop. The oracle recomputes every shingle
    * set and Jaccard value, so shingling, the window shape, and the
    * division all hash-check. */
  private def q44NgramJaccardWindow(s: SparkSession, dir: String): DataFrame =
    Dedup.windowedNgramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, window = 25, threshold = 0.01)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("id_a", "id_b")

  // ---------------------------------------------------------------- q45
  /** Two-phase salted aggregation gate: exact distinct suppliers per
    * returnflag, computed as collect_set per (flag, salt-of-orderkey)
    * then a distinct-flatten merge — the shape for NON-algebraic
    * aggregates (set/list collection) where map-side partial
    * aggregation cannot pre-reduce and a hot key would otherwise
    * accumulate its whole group in one task. Oracle = the plain
    * COUNT(DISTINCT) — salting must redistribute the work and change
    * nothing else. */
  private def q45SaltedAgg(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Skew
    Skew.saltedAgg(
        Tables.lineitem(s, dir).select("l_returnflag", "l_orderkey", "l_suppkey"),
        keys = Seq("l_returnflag"), saltBy = "l_orderkey", nSalts = 8,
        partial = collect_set(_),
        merge = c => size(array_distinct(flatten(collect_list(c)))).cast("long"),
        valueCol = "l_suppkey", outCol = "n_suppliers")
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------------------- q46
  /** Near-dup CLUSTERING: q14's exact-verified MinHash pair graph fed
    * through iterative min-label connected components — the step that
    * turns pairs into duplicate groups (keep `min(doc_id)` per comp and
    * the corpus is deduped). The oracle recomputes the same components
    * with a recursive CTE over the exact-Jaccard pair set, so edge
    * recall, the propagation fixpoint, and the min-id labeling all
    * hash-check. */
  private def q46DedupClusters(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Components
    val pairs = Dedup.minHashNearDupPairs(Tables.documents(s, dir), "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5)
    Components.connectedComponents(pairs, "id_a", "id_b")
      .select(col("node").as("doc_id"), col("comp"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q47
  /** Bloom-filter join pruning: lineitem joined to the p_size<=5 slice
    * of part (~10% of parts), with the fact side pre-filtered map-side
    * by a bloom over the dimension's keys BEFORE the join exchange. At
    * 100 TB this is the difference between shuffling every fact row and
    * shuffling only candidates; false positives are eliminated by the
    * join itself, so the oracle is the PLAIN join — any bloom-induced
    * row loss or phantom row hash-mismatches. */
  private def q47BloomPrunedJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Bloom
    val dim = Tables.part(s, dir).filter(col("p_size") <= 5)
      .select("p_partkey", "p_brand")
    Bloom.bloomPrunedJoin(
        Tables.lineitem(s, dir).select("l_partkey", "l_extendedprice"),
        dim, "l_partkey", "p_partkey",
        expectedNumItems = 4096, fpp = 0.01)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("sum_price"))
      .orderBy("p_brand")
  }

  // ---------------------------------------------------------------- q48
  /** Stratified deterministic sampling — training-data mixture control:
    * keep all of fr, half of en, a quarter of de, an eighth of es, none
    * of zh, selected by portable md5 hash residue so the oracle
    * recomputes the exact member set (not just the rates). */
  private def q48StratifiedSample(s: SparkSession, dir: String): DataFrame =
    General.stratifiedHashSample(Tables.documents(s, dir),
        strataCol = "lang", keyCol = "doc_id",
        rates = Map("en" -> 0.5, "fr" -> 1.0, "de" -> 0.25, "es" -> 0.125),
        m = 16,
        hash = c => TextFunctions.portableTokenHash32(c.cast("string")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")

  // ---------------------------------------------------------------- q49
  /** End-to-end corpus cleaning — the composed pre-training pipeline:
    * token-count quality gate, then MinHash near-dup clustering
    * (q14/q46's exact-verified machinery), keep each cluster's min-id
    * representative via anti-join, and report the surviving mixture per
    * language. The oracle recomputes the whole pipeline: gate, exact
    * Jaccard pair set, recursive-CTE components, loser removal —
    * so every stage's row set hash-checks, not just the final counts. */
  private def q49CorpusClean(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Components
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
      .filter(col("n_tokens") >= 20)
    val pairs = Dedup.minHashNearDupPairs(docs, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5)
    val losers = Components.connectedComponents(pairs, "id_a", "id_b")
      .filter(col("node") =!= col("comp"))
      .select(col("node").as("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("lang")
  }

  // ---------------------------------------------------------------- q50
  /** Tokenizer-vocabulary build: corpus frequencies pruned at
    * minFreq=50, contiguous ids in (freq DESC, token) order via the
    * distributed zipWithIndex — never a single-partition window. The
    * oracle's row_number() recomputes every id. */
  private def q50VocabBuild(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    Corpus.buildVocabulary(Tables.documents(s, dir), "text", minFreq = 50L)
      .orderBy("token_id")
  }

  // ---------------------------------------------------------------- q51
  /** Int8 embedding quantization (vector-index compression): per-vector
    * symmetric scale, round-half-up codes — deterministic across
    * engines, so the oracle recomputes every code's sum/min/max and the
    * exact scale. Map-only plan. */
  private def q51QuantizeInt8(s: SparkSession, dir: String): DataFrame = {
    val q = Similarity.quantizeInt8(col("embedding"))
    Tables.embeddings(s, dir).select(col("vec_id"), q.as("__q"))
      .select(col("vec_id"),
        aggregate(col("__q.q"), lit(0L), (acc, x) => acc + x.cast("long"))
          .as("q_sum"),
        array_min(col("__q.q")).as("q_min"),
        array_max(col("__q.q")).as("q_max"),
        col("__q.scale").as("scale"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- q52
  /** Train/test decontamination over a mod-7 split of the corpus: every
    * held-out doc's distinct 3-grams checked for membership anywhere in
    * the train side. The oracle recomputes the full gram sets and the
    * membership join, so shingling, the semi-join pruning, and the
    * contamination ratio all hash-check. */
  private def q52Decontaminate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    val docs = Tables.documents(s, dir)
    Corpus.contaminationReport(
        train = docs.filter(col("doc_id") % 7 =!= 3), trainTextCol = "text",
        test = docs.filter(col("doc_id") % 7 === 3), testIdCol = "doc_id",
        testTextCol = "text", n = 3)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q53
  /** Gopher-style repetition metrics per document (duplicated-token
    * fraction, top-bigram fraction) — the self-repetition quality gate.
    * Map-only plan; the oracle recomputes every count and division. */
  private def q53RepetitionMetrics(s: SparkSession, dir: String): DataFrame = {
    val m = TextFunctions.repetitionMetrics(col("text"))
    Tables.documents(s, dir).select(col("doc_id"), m.as("__m"))
      .select(col("doc_id"), col("__m.n_tokens").as("n_tokens"),
        col("__m.n_distinct_tokens").as("n_distinct_tokens"),
        col("__m.dup_token_frac").as("dup_token_frac"),
        col("__m.top_bigram_frac").as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q54
  /** Token-budget sequence packing via the distributed prefix sum:
    * every doc's start offset in the concatenated token stream and its
    * 512-token training-sequence id. The oracle's running window
    * recomputes every offset, so the range-partitioned two-pass prefix
    * sum must agree with the single-ordering semantics exactly. */
  private def q54PackSequences(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    Corpus.packSequences(Tables.documents(s, dir), "doc_id", "text", seqLen = 512L)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q55
  /** Fuzzy decontamination: MinHash-LSH near-dup join between the
    * held-out split and the train split (same mod-7 split as q52). The
    * oracle is the FULL exact-Jaccard cross pair set at the threshold,
    * so the banding provably lost nothing and every verified Jaccard
    * value hash-checks. */
  private def q55CrossCorpusNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.crossCorpusNearDupPairs(
        left = docs.filter(col("doc_id") % 7 === 3), leftIdCol = "doc_id",
        leftTextCol = "text",
        right = docs.filter(col("doc_id") % 7 =!= 3), rightIdCol = "doc_id",
        rightTextCol = "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  // ---------------------------------------------------------------- q56
  /** Leakage-safe splitting: q14's exact-verified near-dup pair graph
    * clustered into components, every doc assigned split = portable-
    * hash(cluster representative) mod 10 — near-dups provably share a
    * split. The oracle recomputes pairs, components, representatives,
    * and the md5 hash arithmetic, so the whole chain hash-checks. */
  private def q56LeakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.minHashNearDupPairs(docs, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5)
    Corpus.leakageSafeSplit(docs, "doc_id", pairs, "id_a", "id_b", m = 10,
        hash = c => TextFunctions.portableTokenHash32(c.cast("string")))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q57
  /** Quantized similarity search: int8 codes, exact integer dot
    * products, dequantized ranking — the compressed-index twin of q17.
    * The oracle recomputes codes, every 128-term integer dot, and the
    * scale division, so quantization AND scoring hash-check. */
  private def q57QuantizedTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val query = emb.filter(col("vec_id") === 0L)
      .head().getSeq[Float](emb.schema.fieldIndex("embedding"))
    Similarity.quantizedTopK(emb.filter(col("vec_id") =!= 0L),
      "vec_id", "embedding", query, 10)
  }

  // ---------------------------------------------------------------- q58
  /** STREAMING correctness gate, stream-stream interval join: clicks
    * joined to same-user purchases within 2 hours, replayed through a
    * watermarked self-join of the file stream. The oracle is the plain
    * batch join over the original events, so the streaming join must
    * emit exactly the batch pair set — no extras, no late drops. */
  private def q58StreamIntervalJoin(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.replayIntervalJoin(Tables.events(s, dir),
        typeA = "click", typeB = "purchase",
        maxGap = "2 hours", watermark = "4 hours")
      .orderBy("user_id", "id_a", "id_b")

  // ---------------------------------------------------------------- q59
  /** STREAMING correctness gate, stream-static enrichment: every event
    * joined to its customer's market segment through the stateless
    * broadcast stream-static join. The oracle is the plain batch join,
    * so the per-micro-batch join must reproduce it row-for-row. */
  private def q59StreamEnrich(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.replayEnrich(Tables.events(s, dir),
        dim = Tables.customer(s, dir).select("c_custkey", "c_mktsegment"),
        streamKey = "user_id", dimKey = "c_custkey",
        dimCols = Seq("c_mktsegment" -> "segment"))
      .select("event_id", "user_id", "event_type", "segment", "value")
      .orderBy("event_id")

  // ---------------------------------------------------------------- q60
  /** PII scrubbing: deterministic emails/phones/IPs planted from
    * doc_id (the raw corpus has none — the planting makes every row a
    * real redaction case), then the rule-family redaction with per-rule
    * audit counts. The oracle replants and re-redacts with its own
    * regex engine, so patterns, rule order, and the redacted text all
    * hash-check cross-engine. */
  private def q60PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(s, dir).withColumn("__pii",
      concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"), lit("@mail.example"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" cc u"), col("doc_id").cast("string"), lit("@backup.example")))
          .otherwise(lit("")),
        lit(" ph 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" ip 10.0."), (col("doc_id") % 256).cast("string"), lit(".7")))
    val counts = TextFunctions.piiCounts(col("__pii"))
      .map { case (name, c) => c.cast("int").as(s"n_$name") }
    planted.select(
        (col("doc_id") +: counts) :+
          md5(TextFunctions.redactPii(col("__pii"))).as("redacted_md5"): _*)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q61
  /** Deterministic corpus shuffle + sharding: md5-permuted order,
    * contiguous positions from the range-partitioned zipWithIndex,
    * round-robin shards. The oracle recomputes the permutation with
    * its own md5 and a row_number window, so the two-pass distributed
    * id assignment must match the single-ordering semantics exactly. */
  private def q61ShuffleShard(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    Corpus.shuffleShard(Tables.documents(s, dir).select("doc_id"), "doc_id", 8)
      .select("doc_id", "pos", "shard")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q62
  /** EXACT heavy hitters by sketch-then-verify: a mergeable
    * Misra-Gries pass (capacity 30 < the 31-token vocabulary, so real
    * evictions happen) guarantees every token above n/31 survives as a
    * candidate; an exact candidate-only count trims to the true heavy
    * hitters. The oracle computes the same set exactly, so the sketch's
    * no-miss guarantee is value-checked, not assumed. */
  private def q62HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    Corpus.heavyHitterTokens(Tables.documents(s, dir), "text", sketchK = 30)
      .orderBy("token")
  }

  // ---------------------------------------------------------------- q63
  /** q46's clustering through the ALTERNATING STAR-CONTRACTION
    * formulation (Kiveris et al.) instead of min-label propagation —
    * the O(log^2 n)-round variant for graphs whose diameter breaks the
    * iterative version. Identical oracle to q46: both formulations must
    * produce the exact same (doc_id, comp) labeling, so the contraction
    * fixpoint and the min-id star centers hash-check against the
    * recursive-CTE ground truth. */
  private def q63DedupClustersStar(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Components
    val pairs = Dedup.minHashNearDupPairs(Tables.documents(s, dir), "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5)
    Components.connectedComponentsStar(pairs, "id_a", "id_b")
      .select(col("node").as("doc_id"), col("comp"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q64
  /** Intra-corpus duplicated n-gram fraction (the Lee et al. exact-
    * substring duplication signal): per document, how many of its
    * distinct trigrams appear in at least one other document. Grams
    * cross the exchange as xxhash64 longs; the oracle recomputes every
    * gram set, the >= 2-doc membership, and the fraction on the raw
    * strings — so the hashed-gram shuffle must reproduce the
    * string-gram answer exactly (collisions would show). */
  private def q64DupNgramStats(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    Corpus.interDocDuplicationStats(Tables.documents(s, dir),
        "doc_id", "text", n = 3)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q65
  /** Inverted-index build with capped postings: per token surviving
    * doc_freq >= 50, the top-10 documents by (tf desc, id asc) plus
    * the full document frequency — doc counting and the bounded-heap
    * top-k ride ONE aggregation, so a stopword's posting list costs
    * O(k x partitions) exchange rows, never a corpus-sized
    * collect_list. The oracle is the window row_number formulation,
    * holding the heap's ordering and tie-breaks to SQL semantics. */
  private def q65InvertedIndex(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    Corpus.invertedIndex(Tables.documents(s, dir), "doc_id", "text",
        k = 10, minDocFreq = 50L)
      .orderBy("token", "doc_id")
  }

  // ---------------------------------------------------------------- q66
  /** Per-stratum frequency-cap sampling: every language downsampled to
    * an expected 72 docs (rate = min(1, 72/count) — data-computed, so
    * dominant `en` is cut hard, near-cap langs lightly, small langs
    * kept whole). Membership is the portable md5-derived hash mod 64
    * against round(rate*64), which the oracle recomputes from its own
    * counts — counts, rate arithmetic, rounding, and the exact member
    * set all cross-check. */
  private def q66CapSample(s: SparkSession, dir: String): DataFrame =
    General.capPerStratumSample(Tables.documents(s, dir),
        strataCol = "lang", keyCol = "doc_id", cap = 72L, m = 64,
        hash = c => TextFunctions.portableTokenHash32(c.cast("string")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")

  // ---------------------------------------------------------------- q73
  /** Chunk-level cross-document duplication over the CDC chunks: per
    * doc, the count and token share of chunks whose fingerprint
    * appears in another document. Oracle recomputes the chunker AND
    * the distinct-doc duplication logic end to end. */
  private def q73CdcDupStats(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    Corpus.cdcDuplicationStats(Tables.documents(s, dir), "doc_id", "text",
        m = 8, r = 3)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q74
  /** Quality-weighted dedup RETENTION: q46's exact-verified near-dup
    * clusters, but each cluster keeps its highest-token-count member
    * (ties min id) instead of the arbitrary min-id doc — the policy
    * step that decides which bytes survive dedup. The oracle recomputes
    * the pair graph, the recursive-CTE components, the token counts,
    * AND the argmax selection (window row_number), so the algebraic
    * max_by retention is value-checked end to end, singletons included. */
  private def q74DedupRetainBest(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Components
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
    val pairs = Dedup.minHashNearDupPairs(Tables.documents(s, dir), "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5)
    val labels = Components.connectedComponents(pairs, "id_a", "id_b")
    Dedup.keepBestPerCluster(docs, "doc_id", "n_tokens", labels)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q75
  /** Hybrid retrieval: integer term-frequency lexical recall over the
    * corpus (top-50 candidates via bounded heaps — the integer rank
    * makes the candidate cutoff engine-exact), then exact cosine
    * re-rank of only the candidates against doc 0's embedding. The
    * oracle recomputes both stages — term counts, the candidate set,
    * the cosine chain, and the final top-10. */
  private def q75HybridSearch(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    val emb = Tables.embeddings(s, dir)
    val qvec = emb.filter(col("vec_id") === 0L)
      .head().getSeq[Float](emb.schema.fieldIndex("embedding"))
    Corpus.hybridSearch(Tables.documents(s, dir), "doc_id", "text",
        emb, "vec_id", "embedding",
        queryTerms = Seq("vector", "hash", "merge"), queryVec = qvec,
        nCandidates = 50, k = 10, excludeIds = Seq(0L))
      .select(col("doc_id"), col("lex_tf"), round(col("cosine"), 4).as("cosine"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q76
  /** Unicode NFC normalization of the corpus (the first step of a web
    * text pipeline — composed/decomposed variants of the same visible
    * string must hash identically before any byte-keyed dedup). The
    * oracle re-normalizes with its own UAX #15 implementation and
    * md5-gates the bytes, so the whole normalize chain — not just the
    * ASCII identity subset — must agree across engines. */
  private def q76UnicodeNormalize(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    docs.select(col("doc_id"),
        md5(graft.expressions.GraftFunctions
          .unicodeNormalize(docs, col("text"), "NFC")).as("text_md5"),
        length(graft.expressions.GraftFunctions
          .unicodeNormalize(docs, col("text"), "NFC")).as("n_chars_nfc"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q72
  /** Content-defined chunking over the corpus: boundaries where the
    * portable token hash % 8 == 3 (expected 8-token chunks), chunk
    * fingerprints = md5 of the space-joined tokens. The oracle
    * recomputes every boundary decision, the chunk partition, and
    * every fingerprint from hex-digit md5 arithmetic — order, token
    * membership, and hashes all cross-check. */
  private def q72CdcChunks(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    Corpus.contentDefinedChunks(Tables.documents(s, dir), "doc_id", "text",
        m = 8, r = 3)
      .orderBy("doc_id", "chunk_idx")
  }

  // ---------------------------------------------------------------- q71
  /** Per-label embedding centroids via long-form mean pooling: one
    * (key, dim) partial-sum shuffle, bounded by labels x dims. Means
    * gated at 6 decimals (double sums differ across engines by
    * summation order — rounding dwarfs the ~1e-13 relative wobble);
    * counts exact. */
  private def q71MeanPool(s: SparkSession, dir: String): DataFrame =
    Similarity.meanPoolBy(Tables.embeddings(s, dir), "label", "embedding")
      .select(col("label"), col("dim"), col("n_vecs"),
        round(col("mean"), 6).as("mean6"))
      .orderBy("label", "dim")

  // ---------------------------------------------------------------- q70
  /** STREAMING correctness gate, stream-static exclusion: every event
    * whose user sits in the static BUILDING-segment blocklist is
    * dropped at ingest via the stateless broadcast anti join. The
    * oracle is the plain batch anti join, so the per-micro-batch
    * exclusion must reproduce it row-for-row. */
  private def q70StreamExcludeKnown(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.replayExcludeKnown(Tables.events(s, dir),
        known = Tables.customer(s, dir)
          .filter(col("c_mktsegment") === "BUILDING").select("c_custkey"),
        streamKey = "user_id", knownKey = "c_custkey")
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id")

  // ---------------------------------------------------------------- q69
  /** Batch IVF ANN join over the twin-planted corpus: ten query
    * vectors, each probing its nprobe nearest cells, exact cosine
    * top-3 within the probed candidates via the bounded-heap per-qid
    * top-k. Oracle = EXACT per-query top-3 over the full corpus
    * (q25's recall gate, batched): a hash match requires every
    * query's probed cells to contain its true neighbors. */
  private def q69IvfBatchTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Ivf
    val emb = Tables.embeddings(s, dir)
    val corpus = twinCorpus(emb, 3)
    val model = Ivf.train(corpus, "vec_id", "embedding",
      k = 16, iters = 3, sampleMod = 4)
    val assigned = Ivf.assign(corpus.filter(col("vec_id") >= 10L), "embedding", model)
    val queries = emb.filter(col("vec_id") < 10L)
      .select(col("vec_id"), col("embedding"))
    Ivf.searchBatch(assigned, "vec_id", "embedding", model,
        queries, "vec_id", "embedding", topK = 3, nprobe = 8)
      .select(col("qid"), col("vec_id"), round(col("cosine"), 4).as("cosine"))
      .orderBy("qid", "vec_id")
  }

  // ---------------------------------------------------------------- q68
  /** BM25 term weights, every engine-portable term oracle-gated: tf,
    * doc_freq, dl are exact integers; idf_arg is a division-only
    * rational chain — bit-identical cross-engine, hash-checked
    * outright; tf_norm's multiply-add chain is NOT bit-portable (FMA
    * contraction differs between engines, measured at 1-2 ulp on ~17%
    * of rows), so it is gated at 6 decimals — boundary-flip odds
    * ~1e-10 per value. Only the final ln(idf_arg) product stays
    * spec-checked (still a stronger gate than q30's integers-only
    * precedent). Corpus stats (N, avgdl) are two driver scalars; dl
    * rides the tf shuffle as a group key instead of costing a
    * doc-level join. */
  private def q68Bm25(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    Corpus.bm25(Tables.documents(s, dir), "doc_id", "text")
      .filter(col("doc_id") % 25 === 0)
      .select(col("doc_id"), col("token"), col("tf"), col("doc_freq"),
        col("dl"), round(col("tf_norm"), 6).as("tf_norm6"), col("idf_arg"))
      .orderBy("doc_id", "token")
  }

  // ---------------------------------------------------------------- q67
  /** EXACT per-language quota: exactly min(60, count) docs per lang,
    * selected as the 60 largest portable-hash keys via the bounded-heap
    * top-k (O(cap x partitions) exchange — never a stratum-wide
    * row_number sort). The oracle IS that row_number formulation, so
    * the heap's selection, hash arithmetic, and tie-breaks must
    * reproduce full-sort SQL semantics exactly. */
  private def q67ExactCap(s: SparkSession, dir: String): DataFrame =
    General.exactCapPerStratum(Tables.documents(s, dir),
        strataCol = "lang", keyCol = "doc_id", cap = 60)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")

  // ---------------------------------------------------------------- q77
  /** Resize planning over the multimodal feature frame: aspect-ratio-
    * preserving fit into 320x240, never upscaling. Map-only codegen'd
    * arithmetic (SURVEY §2.8 multimodal family, previously spec-only) —
    * the oracle recomputes scale and targets with the identical IEEE
    * double division/multiply, so the plan is value-gated
    * bit-for-bit. */
  private def q77ResizePlan(s: SparkSession, dir: String): DataFrame =
    Multimodal.resizePlan(
        Multimodal.extractFeatures(
          Multimodal.asMedia(Tables.documents(s, dir), "doc_id", "text")),
        maxW = 320, maxH = 240)
      .select(col("media_id"), col("width"), col("height"), col("scale"),
        col("target_width"), col("target_height"))
      .orderBy("media_id")

  // ---------------------------------------------------------------- q78
  /** Frame-sampling plumbing (previously spec-only): 4 evenly-spaced
    * 16-byte windows of each payload as array<binary>, gated on the
    * hex bytes of the first and last frame plus the clamped last-frame
    * length. The oracle slices the VARCHAR text at the same offsets —
    * byte-for-char equality holds because the corpus is pure ASCII
    * (asserted: octet_length == length for every row at every SF). */
  private def q78FrameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
        Multimodal.asMedia(Tables.documents(s, dir), "doc_id", "text"),
        nFrames = 4, frameBytes = 16)
      .select(col("media_id"), col("n_bytes"),
        lower(hex(element_at(col("frames"), 1))).as("f1_hex"),
        lower(hex(element_at(col("frames"), 4))).as("f4_hex"),
        octet_length(element_at(col("frames"), 4)).as("f4_len"))
      .orderBy("media_id")

  // ---------------------------------------------------------------- q79
  /** Sorted grouped apply (previously spec-only): the per-group closure
    * sees each user's events in GUARANTEED event_id order (secondary
    * sort inside the shuffle — `flatMapSortedGroups`, no per-group
    * buffering), and computes order-DEPENDENT stats: first/last value
    * and the count of strictly-increasing steps. A wrong or unstable
    * iteration order changes n_incr/first/last and fails the hash. */
  private def q79SortedGroupedApply(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val ev = Tables.events(s, dir).select("user_id", "event_id", "value")
    Grouped.applyPerGroupSorted(ev, Seq("user_id"), Seq("event_id"),
      StructType(Seq(
        StructField("n_events", LongType),
        StructField("first_val", DoubleType),
        StructField("last_val", DoubleType),
        StructField("n_incr", LongType)))) { rows =>
      var n = 0L; var nIncr = 0L
      var first = 0.0; var last = 0.0; var seen = false
      rows.foreach { r =>
        val v = r.getDouble(2)
        if (!seen) { first = v; seen = true }
        else if (v > last) nIncr += 1
        last = v; n += 1
      }
      Iterator(Row(n, first, last, nIncr))
    }.orderBy("user_id")
  }

  // ---------------------------------------------------------------- q80
  /** EXACT quota on STRING ids with ENGINEERED hash ties: keys
    * 'd'||doc_id hash into just 8 buckets, so the cap-50 boundary lands
    * INSIDE a bucket and the winners are decided by TopKByKey's
    * LEXICOGRAPHIC id tie-break ("d10" < "d9") — reproduced by the
    * oracle's `ORDER BY hb DESC, doc_key` under SQL string ordering.
    * 10 of the 250 selected docs differ from a numeric tie-break at
    * sf0.01, so the string-keyed heap twin's ordering is value-gated
    * here, not just spec-covered (q67 gates the integral twin). */
  private def q80ExactCapString(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("doc_key", concat(lit("d"), col("doc_id").cast("string")))
    General.exactCapPerStratum(docs, strataCol = "lang", keyCol = "doc_key",
        cap = 50,
        hash = c => pmod(TextFunctions.portableTokenHash32(c), lit(8L)))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_key")).as("min_key"), max(col("doc_key")).as("max_key"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  // ---------------------------------------------------------------- q81
  /** Group totals via broadcast-join (previously spec-only): the
    * low-cardinality alternative to `agg().over(windowSpec(groups))` —
    * per-flag totals computed with map-side partial aggregation and
    * broadcast back onto every row, so the 6M-row side never shuffles
    * into 3 straggler window partitions. The oracle recomputes the
    * totals independently and joins them in SQL; the per-row share is
    * one IEEE double division, bit-portable. */
  private def q81GroupTotals(s: SparkSession, dir: String): DataFrame = {
    val withTotals = General.withGroupTotals(
      Tables.lineitem(s, dir), Seq("l_returnflag"),
      "flag_qty" -> sum(col("l_quantity").cast(DecimalType(18, 2))),
      "flag_rows" -> count(lit(1)))
    withTotals.groupBy("l_returnflag", "l_linestatus")
      .agg(decSum(col("l_quantity")).as("sum_qty"),
        max(col("flag_qty")).cast(DoubleType).as("flag_qty"),
        max(col("flag_rows")).as("flag_rows"),
        count(lit(1)).as("n_rows"))
      .withColumn("qty_share", col("sum_qty") / col("flag_qty"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // ---------------------------------------------------------------- q82
  /** CSV source with explicit schema (previously spec-only), gated as a
    * full write-read roundtrip: nation is written to CSV (quoted by the
    * writer), read back through `readCsv`'s explicit schema (no
    * inference pre-scan), and rolled up — while the oracle reads the
    * ORIGINAL parquet, so any value lost or mangled in the CSV hop
    * fails the hash. The sink path is per-process (tiny, overwritten
    * per call) because the returned frame reads it lazily. */
  private def q82CsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    // Per-process path, like q95: the returned frame re-reads it
    // lazily, so a concurrent harness process must not overwrite it.
    val csvDir = Session.scratch("csv_nation")
    Tables.nation(s, dir).coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(csvDir)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    Tables.readCsv(s, csvDir, schema)
      .groupBy("n_regionkey")
      .agg(count(lit(1)).as("n_nations"),
        min(col("n_name")).as("min_name"),
        sum(col("n_nationkey")).as("sum_keys"))
      .orderBy("n_regionkey")
  }

  // ---------------------------------------------------------------- q83
  /** Bucketed co-located join (previously plan-spec-only): both sides
    * written as tables bucketed 8 ways on the join key, then joined and
    * rolled up — the layout where the join needs NO shuffle exchange on
    * either side (each bucket pairs by file), the thing that makes a
    * repeatedly-joined 100 TB fact table pay its shuffle once at write
    * time. The oracle joins the ORIGINAL parquet in SQL, so the
    * bucketed write+read+join must preserve every value; the no-shuffle
    * plan shape itself stays asserted in the Sinks spec. */
  private def q83BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    Sinks.writeBucketedTable(
      Tables.orders(s, dir).select("o_custkey", "o_totalprice"),
      "graft_q83_orders", 8, Seq("o_custkey"))
    Sinks.writeBucketedTable(
      Tables.customer(s, dir).select("c_custkey", "c_mktsegment"),
      "graft_q83_customer", 8, Seq("c_custkey"))
    s.table("graft_q83_orders")
      .join(s.table("graft_q83_customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        decSum(col("o_totalprice")).as("sum_price"),
        countDistinct(col("o_custkey")).as("n_custs"))
      .orderBy("c_mktsegment")
  }

  // ---------------------------------------------------------------- q84
  /** Column profiling: the pre-flight data-quality scan (null counts,
    * cardinalities, value ranges) as ONE algebraic aggregation over one
    * pass — the statistics that decide partition counts and join
    * strategies before a 100 TB pipeline commits to them. Runs the
    * engine-exact distinct path so the oracle can recompute every cell;
    * the default HLL path shares all plumbing but the distinct
    * aggregate. */
  private def q84Profile(s: SparkSession, dir: String): DataFrame = {
    Profile.profile(Tables.documents(s, dir),
      Seq("doc_id", "lang", "source", "n_chars"), exactDistinct = true)
      .orderBy("col_name")
  }

  // ---------------------------------------------------------------- q85
  /** Skew probe: exact top-5 most frequent values per column via the
    * bounded-heap per-group top-k — the scan that finds the hot keys a
    * join on that column would straggle on. One explode + two map-side-
    * combined aggregations; the per-column heap caps every map task at
    * k candidates, so no column ever funnels its distinct values
    * through one task. The oracle recomputes counts and the (n desc,
    * value asc) cutoff with a window. */
  private def q85TopValues(s: SparkSession, dir: String): DataFrame = {
    Profile.topValues(Tables.documents(s, dir),
      Seq("lang", "source", "n_chars"), k = 5)
      .orderBy(col("col_name"), col("n").desc, col("value"))
  }

  // ---------------------------------------------------------------- q86
  /** Domain-mixture sampling under a char budget: rates derived from
    * corpus totals (rate = min(1, budget*w/total)) so each language
    * contributes ~budget*w kept chars — the pretraining-mixture
    * primitive with the mixture stated once at the call site. The
    * oracle recomputes totals, the IEEE rate/threshold arithmetic, and
    * the portable-hash survivor set, so derivation AND membership are
    * value-checked. */
  private def q86MixtureSample(s: SparkSession, dir: String): DataFrame = {
    General.mixtureSample(Tables.documents(s, dir),
      groupCol = "lang", keyCol = "doc_id", sizeCol = "n_chars",
      weights = Map("de" -> 0.2, "en" -> 0.4, "es" -> 0.1, "fr" -> 0.2, "zh" -> 0.1),
      budget = 20000L)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("lang")
  }

  // ---------------------------------------------------------------- q87
  /** Incremental exact dedup: ingest every non-src0 document against
    * the fingerprint ledger built from the src0 shard — kept rows are
    * first-in-shard AND unseen-in-ledger. The oracle recomputes the
    * normalization, both fingerprint sets, the min-id winner per
    * fingerprint, and the anti-join, so the whole ingestion step is
    * value-checked row for row. */
  private def q87IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ledger = docs.filter(col("source") === "src0")
      .select(TextFunctions.fingerprint(col("text")).as("fp"))
    Dedup.incrementalExactDedup(
      docs.filter(col("source") =!= "src0"), "text", "doc_id", ledger, "fp")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q88
  /** Blocked fuzzy matching: normalized-prefix keys compared by edit
    * distance within prefix blocks — the record-linkage primitive. The
    * oracle recomputes the normalization, the blocking, and every
    * Levenshtein distance, so candidate generation AND verification
    * are value-checked (the corpus yields both exact-prefix pairs,
    * dist 0, and a genuinely fuzzy pair, dist 4). */
  private def q88FuzzyPairs(s: SparkSession, dir: String): DataFrame =
    Fuzzy.blockedFuzzyPairs(Tables.documents(s, dir), "doc_id", "text",
      keyLen = 64, blockLen = 6, maxDist = 10)
      .orderBy("id_a", "id_b")

  // ---------------------------------------------------------------- q89
  /** Per-language z-score of document length: one group-bounded stats
    * aggregation joined back, map-only standardization. The oracle
    * recomputes mean/stddev_samp with window functions; rounding to 6
    * decimals absorbs the ~1e-15 accumulation-order wobble. */
  private def q89ZScore(s: SparkSession, dir: String): DataFrame =
    Stats.zScore(Tables.documents(s, dir), Seq("lang"), "n_chars", "z")
      .select(col("doc_id"), col("lang"), round(col("z"), 6).as("z6"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------- q90
  /** Winsorized per-language length stats: clip at the exact 1/16 and
    * 15/16 percentiles, then aggregate the clipped values. Dyadic
    * fractions over integer lengths make every interpolated bound
    * exactly representable (the q33 oracle-safety argument), and the
    * clipped values' 1/16-granular sums are order-independent in
    * doubles — the oracle recomputes bounds, clipping, and stats. */
  private def q90Winsorize(s: SparkSession, dir: String): DataFrame =
    Stats.winsorize(Tables.documents(s, dir), Seq("lang"), "n_chars", "w")
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        round(avg(col("w")), 6).as("win_mean"),
        round(min(col("w")), 6).as("win_min"),
        round(max(col("w")), 6).as("win_max"))
      .orderBy("lang")

  // ---------------------------------------------------------------- q91
  /** Recency-weighted engagement: per-user sum of value decayed by a
    * 7-day half-life against the dataset's max timestamp (one driver
    * scalar, so the feature is reproducible run-to-run). The oracle
    * recomputes the reference, the per-event weights, and the sums;
    * rounding absorbs libm pow ulp differences and sum order. */
  private def q91DecaySum(s: SparkSession, dir: String): DataFrame =
    Events.decayWeightedSum(Tables.events(s, dir), Seq("user_id"),
        "ts", "value", halfLifeSec = 604800.0)
      .select(col("user_id"), round(col("decayed_sum"), 6).as("decayed6"),
        col("n"))
      .orderBy("user_id")

  // ---------------------------------------------------------------- q92
  /** Ordered funnel view → click → purchase: greedy earliest chain,
    * each step strictly after the previous. The oracle recomputes the
    * same chain with per-step min-after joins, so step times, depth
    * counts, and completion delays are value-checked per user. */
  private def q92Funnel(s: SparkSession, dir: String): DataFrame =
    Events.funnel(Tables.events(s, dir), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))
      .orderBy("user_id")

  // ---------------------------------------------------------------- q95
  /** JSON-lines source with explicit schema, gated as a full write-read
    * roundtrip: documents go out through the JSON writer (UTF-8, full
    * escaping) and come back through `readJsonLines`' explicit schema
    * (no inference pre-scan), then roll up per language with per-text
    * md5 extremes — while the oracle reads the ORIGINAL parquet, so a
    * single byte mangled in the JSON hop (escaping, unicode, numeric
    * formatting) fails the hash. Per-process tiny sink path,
    * overwritten per call, because the returned frame reads it lazily. */
  private def q95JsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    // Per-process path: a concurrent harness (Verify at one SF, Bench
    // at another) must not overwrite the directory this frame re-reads
    // lazily on every action.
    val jsonDir = Session.scratch("json_documents")
    // coalesce(1) is the GATE's determinism device (one file, one
    // writer, stable bytes to hash) — the operator's read path stays
    // splittable; a production JSON write keeps its natural
    // parallelism and would never single-writer a corpus.
    Tables.documents(s, dir).coalesce(1)
      .write.mode("overwrite").json(jsonDir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType)))
    Tables.readJsonLines(s, jsonDir, schema)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(md5(col("text"))).as("min_md5"),
        max(md5(col("text"))).as("max_md5"))
      .orderBy("lang")
  }

  // ---------------------------------------------------------------- q96
  /** PageRank over the near-dup pair graph (q46's exact-verified
    * MinHash pairs, symmetrized): the authority weighting of duplicate
    * neighborhoods — documents central to a near-dup cluster rank
    * high, peripherals low. Three fixed iterations; the oracle unrolls
    * the identical recurrence over the shared exact-Jaccard pair
    * prefix, so edge recall, out-degrees, and every iteration's
    * arithmetic are value-checked (6-decimal gate absorbs sum-order
    * wobble). */
  private def q96PageRank(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Graph
    val pairs = Dedup.minHashNearDupPairs(Tables.documents(s, dir), "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select(col("id_a"), col("id_b"))
    // Symmetrize with ONE explode pass, not union(pairs, pairs.swap):
    // union embeds the pair pipeline twice in the plan and pageRank's
    // edge-checkpoint job would execute the MinHash verify twice.
    val sym = pairs.select(explode(array(
        struct(col("id_a"), col("id_b")),
        struct(col("id_b").as("id_a"), col("id_a").as("id_b")))).as("e"))
      .select(col("e.id_a").as("id_a"), col("e.id_b").as("id_b"))
    Graph.pageRank(sym, "id_a", "id_b", iterations = 3)
      .select(col("v").as("doc_id"), round(col("r"), 6).as("rank6"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q97
  /** Weighted sampling without replacement: 50 documents drawn with
    * probability proportional to length via the deterministic A-Res
    * key `ln(u)/w` over the portable hash. The oracle recomputes the
    * hash, the uniform, every key, and the top-k cutoff — membership
    * is value-checked exactly (the k-th/k+1-th key margin on this
    * corpus is ~5e-6, dwarfing any libm ln() ulp difference). */
  private def q97WeightedSample(s: SparkSession, dir: String): DataFrame =
    General.weightedSample(Tables.documents(s, dir), "doc_id", "n_chars", k = 50)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")

  // ---------------------------------------------------------------- q98
  /** Peak session concurrency per day through the first-class
    * [[Events.peakConcurrency]] operator (q22's gap rule): sessions
    * become +1/-1 boundary pairs, the inclusive global prefix sum over
    * (time, starts-first) order is the concurrency curve, and each
    * day's max is the capacity metric. Carry-in/sampling semantics and
    * the range-partitioned two-pass prefix sum are documented (and
    * pinned) on the operator. The oracle recomputes sessionization,
    * boundaries, and the same running sum. */
  private def q98PeakConcurrency(s: SparkSession, dir: String): DataFrame =
    Events.peakConcurrency(Tables.events(s, dir), Seq("user_id"), "ts",
      gapUs = 1800L * 1000000L, tieBreak = Seq("event_id"))

  // ---------------------------------------------------------------- q99
  /** Percentile rank + quartile bucket per language: the curriculum/
    * difficulty-bucketing primitive ("assign each document its
    * within-language length percentile and quartile"). `percent_rank`
    * is the exact rational (rank-1)/(n-1) — integer arithmetic in
    * doubles, bit-identical cross-engine; `ntile` is deterministic
    * under the unique (n_chars, doc_id) order both engines share. One
    * hash shuffle on the group key; the window sorts within languages
    * only, never globally. */
  private def q99PercentileRank(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        percent_rank().over(w).as("pr"),
        ntile(4).over(w).as("quartile"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q100
  /** Corpus bigram LM quality scoring: self-trained MLE conditional
    * probabilities, mean log prob per document — the perplexity-style
    * gibberish filter. The oracle retrains the identical counts and
    * recomputes every per-doc mean; counts are integer-exact, the
    * division/ln/avg chain is gated at 6 decimals. */
  private def q100BigramLm(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.bigramLogProbScore(
        Tables.documents(s, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_bigrams"),
        round(col("avg_logprob"), 6).as("avg_logprob6"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------- q101
  /** The sorted-scan funnel formulation held to the SAME oracle as
    * q92 (the q46/q63 two-formulations-one-ground-truth pattern): one
    * shuffle + in-shuffle time sort + an O(1)-state streaming scan per
    * user, depth-independent — must reproduce the join formulation's
    * greedy chain exactly. */
  private def q101FunnelSorted(s: SparkSession, dir: String): DataFrame =
    Events.funnelSorted(Tables.events(s, dir), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))
      .orderBy("user_id")

  // ---------------------------------------------------------------- q102
  /** The STREAMING funnel replay-gated against the same oracle as
    * q92/q101 (three formulations, one ground truth): stateful
    * per-user greedy-chain progress, completed funnels emitted on the
    * final step, partials flushed by the replay's per-key sentinels —
    * the replayed stream must reproduce the batch funnel row for row. */
  private def q102StreamFunnel(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.replayFunnel(Tables.events(s, dir),
      Seq("view", "click", "purchase"))
      .orderBy("user_id")

  // ---------------------------------------------------------------- q93
  /** Cohort retention matrix: users grouped by first-event week,
    * distinct active users per whole-week offset. Monday-start week
    * truncation and day-difference arithmetic agree across engines,
    * so every cell is integer-exact. */
  private def q93Cohort(s: SparkSession, dir: String): DataFrame =
    Events.cohortRetention(Tables.events(s, dir), "user_id", "ts")
      .orderBy("cohort_week", "week_offset")

  // ---------------------------------------------------------------- q94
  /** Rolling 1-hour activity features per event: count + decimal-exact
    * value sum over the user's preceding hour (RANGE window, peers
    * share equal timestamps so tie order cannot matter). The oracle
    * recomputes the same window; the decimal sum kills accumulation-
    * order wobble. */
  private def q94Rolling(s: SparkSession, dir: String): DataFrame =
    Events.rollingWindow(Tables.events(s, dir), "user_id", "ts", "value",
        windowSec = 3600L, outSuffix = "1h")
      .select(col("event_id"), col("n_1h"), col("sum_1h"))
      .orderBy("event_id")

  // ---------------------------------------------------------------- q103
  /** BPE merge training: the top-8 learned pair merges over the
    * documents corpus ([[graft.operators.Corpus.bpeMerges]]). The
    * oracle replays the IDENTICAL recurrence as 8 unrolled CTE levels —
    * same whitespace tokens, same character-level init, same
    * space-delimited greedy left-to-right replace, same
    * (count desc, pair asc) argmax — so every learned merge and its
    * frequency-weighted pair count is value-checked, integer-exact. */
  private def q103BpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.bpeMerges(Tables.documents(s, dir), "text",
        numMerges = 8)
      .orderBy("merge_rank")

  // ---------------------------------------------------------------- q104
  /** dHash perceptual near-dup pairs ([[Multimodal.dHashNearDupPairs]]
    * banding [[graft.expressions.DHash64]] signatures): the documents
    * payloads plus a deterministic first-byte-zeroed twin of each doc.
    * Zeroing offset 0 touches only the grid cells that sample byte 0
    * (cell g reads byte (g*len)/72, so g=0 always, g=1 only when
    * len < 72), leaving every twin within Hamming <= 2 of its original
    * BY CONSTRUCTION — the corpus has no natural byte-gradient
    * near-dups, and without the twins the pair set would be vacuously
    * empty. The oracle recomputes the 72-cell gradient signature
    * byte-for-byte from the hex dump in SQL and takes the exact
    * all-pairs Hamming set, so the banded pipeline (pigeonhole full
    * recall at maxHamming=3 <= bands-1) must recover every pair
    * value-for-value or the hash mismatches. */
  private def q104DHashNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val twins = docs.select(
      guardedTwinId(col("doc_id"), 1000000L).as("doc_id"),
      concat(lit(Array[Byte](0)),
        substring(col("payload"), 2, Int.MaxValue)).as("payload"))
    Multimodal.dHashNearDupPairs(docs.unionAll(twins),
        maxHamming = 3, bands = 4, maxBucket = 10000,
        idCol = "doc_id", payloadCol = "payload")
      .orderBy("id_a", "id_b")
  }

  // ---------------------------------------------------------------- q105
  /** BPE encode — the apply side closing q103's learn→apply tokenizer
    * loop: learn 8 merges ([[graft.operators.Corpus.bpeMerges]]), then
    * encode the whole corpus with them
    * ([[graft.operators.Corpus.bpeEncode]] — map-only, merges as plan
    * literals) and roll up the encoded subword frequencies. The oracle
    * replays training's 8 unrolled CTE levels AND the per-word greedy
    * rank-order merge application, so every emitted subword and its
    * count is value-checked integer-exact. (Precondition shared with
    * q103: the corpus yields all 8 merges — q103's green row pins it;
    * on a dry corpus the oracle's cross joins would truncate where the
    * engine keeps encoding with the shorter table.)
    *
    * The merge table takes the PERSISTENCE path: trained, saved as a
    * parquet artifact ([[graft.operators.Corpus.saveMerges]]), loaded
    * back ([[graft.operators.Corpus.loadMerges]]), and only then
    * applied — so the oracle gate also pins the artifact roundtrip
    * bit-for-bit: any save/load drift would shift the encoded
    * frequencies and fail the hash. Temp-dir lifecycle mirrors the
    * streaming gates (unique per run, deleted before return). */
  private def q105BpeEncode(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    val docs = Tables.documents(s, dir)
    val mergesDf = Corpus.bpeMerges(docs, "text", 8)
    val artDir = java.nio.file.Files.createTempDirectory("graft-q105-merges").toString
    val merges = try {
      Corpus.saveMerges(mergesDf, artDir)
      Corpus.loadMerges(s, artDir)
    } finally graft.streaming.StreamGate.deleteRecursively(artDir)
    Corpus.bpeEncode(docs, "text", merges)
      .select(explode(col("bpe_tokens")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(50)
  }

  // ---------------------------------------------------------------- q106
  /** Semantic dedup ([[graft.operators.Similarity.semanticDedup]] —
    * SemDeDup): IVF k-means cells over the twin-planted embedding
    * corpus (q24's exact corpus, j=1,2), cell-local cosine pairs at
    * threshold 0.9 with nprobe=6 multi-probe, min-id representative
    * per connected group. At this corpus every qualifying pair is a
    * planted twin-family pair (non-twin cosines top out well below
    * 0.9 — measured 0.73 at sf0.01, 0.78 at sf0.1), so the oracle's
    * EXACT full-corpus pair graph + recursive components + min-id
    * retention is a full-recall gate on the cell-local restriction: a
    * twin pair whose probe sets diverge, a missed pair at the
    * 0.90003-margin boundary, or a wrong representative all fail the
    * hash. nprobe sizing is measured, q25/q69-style: losses at
    * sf0.01/sf0.1 are 172/— at nprobe=1, 15/— at 2, 2/— at 3, 0/2 at
    * 4, 0/0 at 5 — pinned at 6 for one step of margin (recall is
    * monotone in nprobe). */
  private def q106SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Ivf, Similarity}
    val corpus = twinCorpus(Tables.embeddings(s, dir), 2)
    val model = Ivf.train(corpus, "vec_id", "embedding",
      k = 16, iters = 3, sampleMod = 4)
    Similarity.semanticDedup(corpus, "vec_id", "embedding", model,
        threshold = 0.9, nprobe = 6)
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- q107
  /** The COMPLETE tokenizer pipeline, raw text → training token ids:
    * learn 8 BPE merges (q103's trainer), encode every document
    * ([[graft.operators.Corpus.bpeEncode]]), build the subword
    * vocabulary with contiguous frequency-ranked ids
    * ([[graft.operators.Corpus.vocabularyFromFrequencies]] — the q50
    * id-assignment on the ENCODED stream), and emit each document's
    * ordered id sequence as (doc_id, pos, token_id) rows. The oracle
    * replays training (shared CTEs), reconstructs each doc's subword
    * stream word-by-word from the end-of-training vocabulary states
    * (the q105 invariant applied per position), rebuilds the
    * vocabulary ranking, and joins — every position of every
    * document's id sequence is value-checked integer-exact. The
    * vocab join is unhinted: subword vocabularies are tiny here and
    * AQE broadcasts them; a byte-level 100k-merge vocabulary still
    * fits comfortably, and an unbounded one degrades to a shuffle
    * join instead of an OOM. */
  private def q107BpeIds(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    val docs = Tables.documents(s, dir)
    val merges = Corpus.collectMerges(Corpus.bpeMerges(docs, "text", 8))
    val enc = Corpus.bpeEncode(docs, "text", merges)
    // vocabulary side rides the distinct-word factorization — one
    // map-side-combined word count + encode of the DISTINCT word table
    // — instead of a second corpus-wide encode pass (value-identical;
    // see Corpus.bpeTokenFrequencies)
    val vocab = Corpus.vocabularyFromFrequencies(
      Corpus.bpeTokenFrequencies(docs, "text", merges))
    enc.select(col("doc_id"),
        posexplode(col("bpe_tokens")).as(Seq("pos", "token")))
      .join(vocab.select("token", "token_id"), Seq("token"))
      .select(col("doc_id"), col("pos"), col("token_id"))
      .orderBy("doc_id", "pos")
  }

  // ---------------------------------------------------------------- q108
  /** Tokenizer-aware sequence packing — the pipeline's end product:
    * BPE-encode every document (q105's encoder), count its SUBWORDS,
    * and pack the corpus into 256-subword training sequences via the
    * distributed prefix sum ([[graft.operators.Corpus
    * .packSequencesByCount]] — q54's machinery parameterized by the
    * learned tokenizer's counts instead of whitespace tokens). The
    * oracle recomputes per-doc subword counts from the end-of-training
    * vocabulary states and replays the running window, so every
    * offset and sequence assignment is integer-exact. */
  private def q108PackBpe(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
    val merges = Corpus.collectMerges(Corpus.bpeMerges(docs, "text", 8))
    val counted = Corpus.bpeEncode(docs, "text", merges)
      .select(col("doc_id"), size(col("bpe_tokens")).as("n_subwords"))
    Corpus.packSequencesByCount(counted, "doc_id", "n_subwords", seqLen = 256L)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q109
  /** Incremental NEAR-dup ledger ingestion
    * ([[graft.operators.Dedup.nearDedupAgainstLedger]]) — the
    * continuous-corpus-building shape q87 covers for EXACT dups: the
    * src0 shard is ingested against an empty signature ledger, every
    * other document against the grown ledger, and the union of
    * survivors comes back. The oracle recomputes the EXACT shingle
    * Jaccard pair graph within each shard (recursive components +
    * min-id representative) and the exact cross pair set between
    * shard 2 and the ledger's kept docs, then replays the retention
    * rule — so LSH banding recall, component transitivity, the
    * rep-only contamination rule, and the two-step ledger handoff are
    * all value-checked row for row. */
  private def q109NearDupLedger(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val step0 = Dedup.nearDedupAgainstLedger(
      docs.filter(col("source") === "src0"), "doc_id", "text",
      Dedup.emptySignatureLedger(s))
    val step1 = Dedup.nearDedupAgainstLedger(
      docs.filter(col("source") =!= "src0"), "doc_id", "text", step0.ledger)
    step0.kept.unionByName(step1.kept)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q110
  /** Semantic decontamination
    * ([[graft.operators.Similarity.semanticDecontaminate]]) — the
    * embedding analog of q55's lexical cross-corpus check: eval
    * vectors with a cosine >= 0.9 neighbor anywhere in train are
    * flagged. Train = the base embedding corpus; eval = planted
    * paraphrase twins (dim-0 x2, guaranteed contaminated — q106's twin
    * recipe, cosine to base >= 0.9) of every vec_id % 3 == 0 vector,
    * plus REVERSED embeddings (a reversed isotropic vector is just
    * another random direction — measured max train cosine 0.73/0.78 at
    * sf0.01/sf0.1, nowhere near 0.9) of every vec_id % 3 == 1 vector
    * as the clean population. The oracle recomputes the eval
    * construction and the EXACT full eval x train threshold graph,
    * then value-checks per-eval hit counts and min qualifying train id
    * — a cross pair whose probe sets diverge past nprobe, a
    * boundary-margin miss, or a wrong flag all fail the hash, so the
    * gate holds the cell-local restriction to full recall. nprobe=6:
    * same corpus geometry, model size, and threshold as q106's
    * measured sweep (losses 172/15/2/0 at nprobe=1/2/3/4-5 on the twin
    * family), carried with the same one-step margin; cross-engine
    * agreement at both SFs confirmed by this gate. */
  private def q110SemanticDecontaminate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Ivf, Similarity}
    val emb = Tables.embeddings(s, dir)
    val evalTwins = emb.filter(col("vec_id") % 3 === 0).select(
      guardedTwinId(col("vec_id"), 1000000L).as("vec_id"),
      transform(col("embedding"),
        (x, i) => when(i === lit(0), x * lit(2.0f)).otherwise(x))
        .as("embedding"))
    val evalClean = emb.filter(col("vec_id") % 3 === 1).select(
      guardedTwinId(col("vec_id"), 2000000L).as("vec_id"),
      reverse(col("embedding")).as("embedding"))
    val eval = evalTwins.unionByName(evalClean)
    val model = Ivf.train(emb, "vec_id", "embedding",
      k = 16, iters = 3, sampleMod = 4)
    Similarity.semanticDecontaminate(eval, emb, "vec_id", "embedding",
        model, threshold = 0.9, nprobe = 6)
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- q111
  /** Duplicated-span removal
    * ([[graft.operators.Corpus.removeDuplicatedSpans]]) — Lee et al.'s
    * cut step at 5-gram granularity over the documents corpus: q64
    * measures cross-doc duplication, this excises it (at sf0.01: 71
    * docs lose 2550 of 27165 tokens — boilerplate spans shared across
    * sources — while unique prose survives untouched). The oracle
    * recomputes the positional gram table, the distinct-doc
    * duplication rule, every covered position, and the rebuilt text —
    * one token cut too many or too few anywhere in the corpus fails
    * the hash. */
  private def q111RemoveDupSpans(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.removeDuplicatedSpans(Tables.documents(s, dir),
        "doc_id", "text", n = 5)
      .orderBy("doc_id")

  // ---------------------------------------------------------------- q112
  /** Naive Bayes classifier gate
    * ([[graft.operators.Classify]]) — the CCNet/fastText-shaped
    * learned filter: train a multinomial NB on the corpus' own weak
    * labels (lang == 'en', 218 vs 282 docs at sf0.01) in one
    * vocabulary-bounded counting pass, then score every document's
    * log-odds. The oracle retrains the identical model in SQL —
    * per-(token, class) counts, class totals, vocabulary size, Laplace
    * conditionals, prior log-odds — and replays every per-doc weighted
    * sum; counts and the join are integer-exact, the log-odds ride the
    * q100-style 6-decimal gate, and `predicted` compares the ROUNDED
    * value on both sides so the flag can never disagree at a
    * sub-gate margin. */
  private def q112NaiveBayesGate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Classify
    val docs = Tables.documents(s, dir)
      .withColumn("label", col("lang") === "en")
    val model = Classify.trainNaiveBayes(docs, "text", "label")
    Classify.scoreNaiveBayes(docs, "doc_id", "text", model)
      .join(docs.select(col("doc_id"), col("label")), Seq("doc_id"))
      .select(col("doc_id"), col("label"),
        round(col("log_odds"), 6).as("log_odds6"),
        (round(col("log_odds"), 6) > 0.0).as("predicted"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q113
  /** Streaming near-dup ingestion gate
    * ([[graft.streaming.StreamGate.replayNearDupGate]]): the non-src0
    * documents arrive as a file stream in multi-file micro-batches and
    * each micro-batch is decontaminated against the STATIC signature
    * ledger built from src0 — the ingest-time near-dup firewall, the
    * fuzzy twin of q70's exact-key exclusion join. The replay's oracle
    * is the plain batch semantics: every non-src0 doc with NO exact
    * shingle-Jaccard >= 0.5 neighbor anywhere in src0 (LSH recall, the
    * verification walk, and micro-batch partition-invariance are all
    * on the hash — a doc wrongly dropped or leaked in ANY micro-batch
    * fails). */
  private def q113StreamNearDupGate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ledger = Dedup.signatureLedger(
      docs.filter(col("source") === "src0"), "doc_id", "text")
    graft.streaming.StreamGate.replayNearDupGate(
        docs.filter(col("source") =!= "src0")
          .select("doc_id", "text", "lang", "source", "n_chars"),
        "doc_id", "text", ledger)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q114
  /** PQ-ADC compressed ANN ([[graft.operators.Pq]]): the corpus (minus
    * the query row, plus three exact query twins) is product-quantized
    * to 8 sub-codes per 64-dim vector, ranked by the query's ADC
    * lookup table, and the top-3 candidates are re-scored with the
    * exact cosine. The oracle is q18's exact-top-k recall gate: the
    * true top-3 are the planted twins (cosine 1.0; every non-twin
    * tops out near 0.7), so the PQ index must surface exactly them —
    * a twin lost to quantization, a wrong ADC ranking, or a
    * nondeterministic codebook all fail the hash. Everything is
    * deterministic by construction (id-hash sample, id-sorted seeds,
    * decimal partial sums, ties toward the higher cell), so the gate
    * is stable, not probabilistic. */
  private def q114PqAdcTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pq
    val emb = Tables.embeddings(s, dir)
    val qRow = emb.filter(col("vec_id") === 0L)
    val query = qRow.head().getSeq[Float](emb.schema.fieldIndex("embedding"))
    val twins = qRow.select(
      explode(array(Seq(1000000L, 2000000L, 3000000L).map(o =>
        guardedTwinId(col("vec_id"), o)): _*)).as("vec_id"),
      col("embedding"))
    val corpus = emb.filter(col("vec_id") =!= 0L)
      .select("vec_id", "embedding").unionByName(twins)
    val model = Pq.train(corpus, "vec_id", "embedding",
      m = 8, k = 16, iters = 3, sampleMod = 4)
    val enc = Pq.encode(corpus, "embedding", model, "pq_code")
    Pq.searchAdc(enc.select("vec_id", "pq_code"), "vec_id", "pq_code",
        model, query, topK = 3)
      .join(corpus, Seq("vec_id"))
      .select(col("vec_id"),
        round(graft.expressions.GraftFunctions.cosineF32(emb, col("embedding"),
          graft.operators.Similarity.vectorLit(query)), 4).as("cosine"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- q115
  /** IVF-PQ composed ANN ([[graft.operators.Pq.searchIvfPq]]): q114's
    * twin-planted corpus indexed the production way — IVF cell per
    * vector (q25's model) + PQ codes (q114's codebooks) — and searched
    * with cell pruning THEN ADC ranking. Same exact-top-3 oracle as
    * q114/q18: the composition must surface the three planted query
    * twins through BOTH approximations (a probe set missing the
    * twins' cell, or codes mis-ranking them inside it, fails the
    * hash). nprobe=2: the twins share the query's own cell by
    * construction (identical vectors), so rank-1 suffices
    * analytically; 2 carries one step of margin for the assign-high /
    * rank-low tie conventions. */
  private def q115IvfPqTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Ivf, Pq}
    val emb = Tables.embeddings(s, dir)
    val qRow = emb.filter(col("vec_id") === 0L)
    val query = qRow.head().getSeq[Float](emb.schema.fieldIndex("embedding"))
    val twins = qRow.select(
      explode(array(Seq(1000000L, 2000000L, 3000000L).map(o =>
        guardedTwinId(col("vec_id"), o)): _*)).as("vec_id"),
      col("embedding"))
    val corpus = emb.filter(col("vec_id") =!= 0L)
      .select("vec_id", "embedding").unionByName(twins)
    val ivf = Ivf.train(corpus, "vec_id", "embedding",
      k = 16, iters = 3, sampleMod = 4)
    val pq = Pq.train(corpus, "vec_id", "embedding",
      m = 8, k = 16, iters = 3, sampleMod = 4)
    val indexed = Pq.encode(Ivf.assign(corpus, "embedding", ivf),
      "embedding", pq, "pq_code")
    Pq.searchIvfPq(indexed.select("vec_id", "cell", "pq_code"),
        "vec_id", "cell", "pq_code", ivf, pq, query, topK = 3, nprobe = 2)
      .join(corpus, Seq("vec_id"))
      .select(col("vec_id"),
        round(graft.expressions.GraftFunctions.cosineF32(emb, col("embedding"),
          graft.operators.Similarity.vectorLit(query)), 4).as("cosine"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- q116
  /** SCD-2 point-in-time dimension join
    * ([[graft.operators.AsOfJoin.scdJoin]]): a two-version
    * slowly-changing customer dimension is derived deterministically
    * from the customer table (segment flips to 'POST-…' at a per-key
    * split date spread over 1997-1999), and every order joins the
    * version valid AT ITS ORDER DATE — the label-leakage firewall of
    * feature generation. The oracle rebuilds the identical versioned
    * dimension and interval join in SQL; order dates span 1995-2001 so
    * both versions (and exact split-boundary dates, which land in v2
    * by the half-open rule) are exercised, and every (order, segment)
    * row is value-checked. */
  private def q116ScdJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AsOfJoin
    val facts = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    AsOfJoin.scdJoin(facts, "o_custkey", "o_orderdate",
        scdCustomerDim(s, dir), "key", "valid_from", "valid_to")
      .select(col("o_orderkey"), col("o_custkey"), col("segment"))
      .orderBy("o_orderkey")
  }

  /** The two-version customer dimension shared by q116 (batch join)
    * and q224 (streaming enrichment): segment flips to 'POST-…' at a
    * per-key split date spread over 1997-1999. */
  private def scdCustomerDim(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val split = to_timestamp(date_add(lit("1997-01-01").cast("date"),
      (col("c_custkey") % 1000).cast("int")))
    cust.select(col("c_custkey").as("key"),
        col("c_mktsegment").as("segment"),
        lit("1995-01-01").cast("timestamp").as("valid_from"),
        split.as("valid_to"))
      .unionByName(cust.select(col("c_custkey").as("key"),
        concat(lit("POST-"), col("c_mktsegment")).as("segment"),
        split.as("valid_from"),
        lit("9999-01-01").cast("timestamp").as("valid_to")))
  }

  // ---------------------------------------------------------------- q117
  /** Streaming per-window top-k
    * ([[graft.streaming.EventStream.topUsersPerWindowStream]]): the
    * events feed replayed through TWO chained stateful aggregations —
    * per-(window, user) counts, then a bounded top-3 heap per window —
    * and held to the batch oracle's window row_number formulation:
    * every window's ranks, user ids, and counts value-check, so a
    * window lost between the chained operators, a heap mis-ranking, or
    * a watermark-propagation fault all fail the hash. */
  private def q117StreamTopUsers(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.replayTopUsersPerWindow(Tables.events(s, dir),
        k = 3, "5 minutes", "10 minutes", horizonUs = 3600L * 1000000)
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("rank"), col("user_id"), col("n"))
      .orderBy("window_start_us", "rank")

  // ---------------------------------------------------------------- q118
  /** Event-rate anomaly flags
    * ([[graft.operators.Events.rateAnomalies]]): per (event_type,
    * 5-minute window) counts judged against the trailing-6-window
    * mean + 3 sigma baseline, cold-start-suppressed below 3 observed
    * predecessors. The oracle recomputes the identical windowed counts
    * and ROWS-frame trailing stats; counts, window starts, and prior
    * counts are integer-exact, the baselines ride the 6-decimal gate,
    * and the flag compares against the ROUNDED threshold on both
    * sides so it can never disagree at a sub-gate margin. */
  private def q118RateAnomalies(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.rateAnomalies(Tables.events(s, dir),
        "ts", "event_type", windowUs = 300L * 1000000,
        trailing = 6, z = 3.0, minPrior = 3)
      .select(col("window_start_us"), col("event_type"), col("n"),
        round(col("base_mean"), 6).as("base_mean6"),
        round(col("base_sd"), 6).as("base_sd6"),
        col("n_prior"), col("anomalous"))
      .orderBy("event_type", "window_start_us")

  // ---------------------------------------------------------------- q119
  /** SCD-2 dimension BUILD ([[graft.operators.AsOfJoin.scdBuild]]):
    * each customer's order stream read as a change feed (ts = order
    * date, attr = order priority, same-day conflicts resolved
    * last-write-wins by order key), no-op re-emissions collapsed, and
    * the surviving states tiled into half-open validity intervals —
    * the producer half of q116's consumer join. The oracle replays
    * conflict dedup, the lag-collapse, and the lead-interval tiling
    * row for row; every interval bound is integer-exact micros. */
  private def q119ScdBuild(s: SparkSession, dir: String): DataFrame = {
    val changes = Tables.orders(s, dir).select(
      col("o_custkey").as("key"), col("o_orderdate").as("ts"),
      col("o_orderpriority").as("priority"), col("o_orderkey"))
    // o_orderdate reads as TIMESTAMP_NTZ; session TZ is UTC, so the
    // NTZ->LTZ cast is instant-preserving and epoch_us-comparable.
    AsOfJoin.scdBuild(changes, "key", "ts", Seq("priority"),
        endOfTime = lit("9999-01-01").cast("timestamp_ntz"),
        tieBreak = Seq("o_orderkey"))
      .select(col("key"), col("priority"),
        unix_micros(col("valid_from").cast("timestamp")).as("valid_from_us"),
        unix_micros(col("valid_to").cast("timestamp")).as("valid_to_us"))
      .orderBy("key", "valid_from_us")
  }

  // ---------------------------------------------------------------- q120
  /** Triangle counting + local clustering coefficient
    * ([[graft.operators.Graph.triangleCounts]]): the part
    * co-purchase graph (parts sharing an order, order-bounded pair
    * expansion) measured for cohesion per node via degree-ordered
    * orientation — wedges generated only at each edge's low-rank end,
    * so hub parts contribute no wedge fan-out. The oracle rebuilds
    * the canonical edge set and counts the identical id-ordered
    * triangle set; degrees and counts are integer-exact, the
    * coefficient rides the 6-decimal gate. */
  private def q120Triangles(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
    graft.operators.Graph.triangleCounts(pairs, "src", "dst")
      .select(col("node"), col("degree"), col("n_tri"),
        round(col("cc"), 6).as("cc6"))
      .orderBy("node")
  }

  // ---------------------------------------------------------------- q121
  /** PMI collocation mining
    * ([[graft.operators.Corpus.pmiCollocations]]): adjacent token
    * pairs over `documents` scored by
    * `ln(pair_n · N / (w1_n · w2_n))` against corpus unigram counts,
    * hapax-pruned at 5 occurrences before the count joins. The oracle
    * recomputes unigram counts, the corpus total, bigram counts, and
    * every PMI value; all counts integer-exact, PMI on the 6-decimal
    * gate. */
  private def q121PmiCollocations(s: SparkSession, dir: String): DataFrame = {
    val out = graft.operators.Corpus.pmiCollocations(
      Tables.documents(s, dir), "text", minPairCount = 5L)
    out.select(col("w1"), col("w2"), col("pair_n"), col("w1_n"), col("w2_n"),
        round(col("pmi"), 6).as("pmi6"))
      .orderBy("w1", "w2")
  }

  // ---------------------------------------------------------------- q122
  /** Session Markov transition matrix
    * ([[graft.operators.Events.transitionMatrix]]): q22's 30-minute
    * sessions, then the first-order event-type transition table with
    * `__START__`/`__END__` sentinels — each row of the matrix sums to
    * 1 across its outgoing states. The oracle replays sessionization,
    * the per-session lead/row_number stepping, and every count and
    * row-normalized probability; counts integer-exact, `p` on the
    * 6-decimal gate. */
  private def q122TransitionMatrix(s: SparkSession, dir: String): DataFrame = {
    val sess = Sessionize.sessionize(
      Tables.events(s, dir).select("user_id", "ts", "event_id", "event_type"),
      Seq("user_id"), "ts", 30L * 60 * 1000000, tieBreak = Seq("event_id"))
    Events.transitionMatrix(sess, Seq("user_id", "session_id"),
        "ts", "event_type", tieBreak = Seq("event_id"))
      .select(col("from_state"), col("to_state"), col("n"),
        round(col("p"), 6).as("p6"))
      .orderBy("from_state", "to_state")
  }

  // ---------------------------------------------------------------- q123
  /** CDC MERGE apply ([[graft.operators.AsOfJoin.applyChanges]]): the
    * order feed read as a change stream (status 'F' rows as deletes,
    * the rest as upserts, last-write-wins by (date, order key)),
    * time-split into two shards and FOLDED — shard 2 merges into the
    * snapshot shard 1 produced, never rereading shard 1. Because the
    * shards are time-split, the fold equals the global argmax the
    * oracle computes: per key the latest change wins and a winning
    * delete removes the key. Every surviving (key, priority,
    * applied_us) is value-checked. */
  private def q123ApplyChanges(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AsOfJoin
    val base = Tables.orders(s, dir).select(
      col("o_custkey").as("key"), col("o_orderdate").as("ts"),
      when(col("o_orderstatus") === "F", lit("delete"))
        .otherwise(lit("upsert")).as("op"),
      col("o_orderpriority").as("priority"), col("o_orderkey"))
    val split = lit("1996-01-01").cast("timestamp_ntz")
    val s0 = base.filter(lit(false))
      .select(col("key"), col("priority"), col("ts"))
    val s1 = AsOfJoin.applyChanges(s0, base.filter(col("ts") < split),
      "key", "ts", "op", Seq("priority"), tieBreak = Seq("o_orderkey"))
    val s2 = AsOfJoin.applyChanges(s1, base.filter(col("ts") >= split),
      "key", "ts", "op", Seq("priority"), tieBreak = Seq("o_orderkey"))
    s2.select(col("key"), col("priority"),
        unix_micros(col("ts").cast("timestamp")).as("applied_us"))
      .orderBy("key")
  }

  // ---------------------------------------------------------------- q124
  /** Z-order layout ([[graft.operators.Layout.zOrder]]): `part`
    * clustered along the Morton curve of (p_size, trunc(price)) —
    * integer min-max cells, bit interleave, range partition + in-file
    * sort, so predicates on EITHER column prune files. The curve
    * position is pure integer arithmetic end to end, so the oracle
    * recomputes every bounds/cell/interleave step bit-exactly; the
    * pruning effect itself is machine-asserted in LayoutSpec. */
  private def q124ZOrder(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Layout
    val part = Tables.part(s, dir).select(col("p_partkey"), col("p_size"),
      col("p_retailprice").cast("long").as("price_l"))
    Layout.zOrder(part, "p_size", "price_l", numPartitions = 8)
      .select(col("p_partkey"), col("__z").as("z"))
      .orderBy("p_partkey")
  }

  // ---------------------------------------------------------------- q125
  /** Retrieval evaluation ([[graft.operators.Eval.topKAllQueries]] +
    * [[graft.operators.Eval.retrievalMetrics]]): ground truth = exact
    * cosine top-10 on the full 64-dim embeddings for every 50th
    * vector; candidate = the same ranking on a 16-dim prefix — the
    * dimension-truncation recall experiment, scored per query as
    * recall@10 / MRR / nDCG@10. Queries ship as one plan literal and
    * scoring reduces through the bounded-heap aggregator, so there is
    * no join against the corpus anywhere. The oracle recomputes both
    * rankings and every metric; counts integer-exact, metrics on the
    * 6-decimal gate. */
  private def q125RetrievalEval(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Eval
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq.sortBy(_._1)
    val truth = Eval.topKAllQueries(emb, "vec_id", "embedding", queries, 10)
    val pred = Eval.topKAllQueries(
      emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding")),
      "vec_id", "embedding",
      queries.map { case (q, v) => q -> v.take(16) }, 10)
    Eval.retrievalMetrics(pred, truth, "query_id", "item_id", "rank", 10)
      .select(col("query_id"), col("n_truth"), col("n_hits"),
        round(col("recall"), 6).as("recall6"),
        round(col("mrr"), 6).as("mrr6"),
        round(col("ndcg"), 6).as("ndcg6"))
      .orderBy("query_id")
  }

  // ---------------------------------------------------------------- q126
  /** Data-quality expectations gate
    * ([[graft.operators.Quality.check]]): six contracts over lineitem
    * — range, not-null, accepted-values, a regex, a deliberately
    * violated discount bound (non-vacuous: real violation counts),
    * and (orderkey, linenumber) key uniqueness — all row-level rules
    * in ONE algebraic pass plus one groupBy for the key. The oracle
    * recomputes every n_checked / n_violations and the strict pass
    * flag; all integers, hash-exact. */
  private def q126QualityGate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quality
    val li = Tables.lineitem(s, dir)
    Quality.check(li,
        Seq(
          Quality.inRange("l_quantity", 1.0, 50.0),
          Quality.notNull("l_shipdate"),
          Quality.acceptedValues("l_returnflag", Seq("A", "N", "R")),
          Quality.matchesRegex("l_linestatus", "^[OF]$"),
          Quality.inRange("l_discount", 0.0, 0.05)),
        uniqueKeys = Seq(Seq("l_orderkey", "l_linenumber")))
      .orderBy("rule")
  }

  // ---------------------------------------------------------------- q127
  /** Equi-width histogram ([[graft.operators.Profile.histogram]]):
    * order totals into 20 buckets over the data's own [min, max],
    * zero-filled so every cell appears. Bounds are two driver scalars
    * the oracle recomputes in SQL; bucket assignment and edges use the
    * identical double arithmetic on both engines, so counts are
    * hash-exact and the edges ride the 6-decimal gate. */
  private def q127Histogram(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val Array(b) = orders.agg(
      min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
      .collect()
    graft.operators.Profile.histogram(orders, "o_totalprice", 20,
        b.getDouble(0), b.getDouble(1))
      .select(col("bucket"), round(col("lo"), 6).as("lo6"),
        round(col("hi"), 6).as("hi6"), col("n"))
      .orderBy("bucket")
  }

  // ---------------------------------------------------------------- q128
  /** PSI drift detection ([[graft.operators.Profile.drift]]): order
    * totals before 1996 as the reference distribution, 1996-onward as
    * current, bucketed with REFERENCE bounds (out-of-range current
    * values clamp into edge buckets), eps-floored proportions. The
    * oracle recomputes bounds, both histograms, and every per-bucket
    * PSI contribution; counts integer-exact, contributions on the
    * 6-decimal gate. */
  private def q128PsiDrift(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val split = lit("1996-01-01").cast("timestamp_ntz")
    val ref = orders.filter(col("o_orderdate") < split)
    val cur = orders.filter(col("o_orderdate") >= split)
    val Array(b) = ref.agg(
      min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
      .collect()
    graft.operators.Profile.drift(ref, cur, "o_totalprice", 20,
        b.getDouble(0), b.getDouble(1))
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        round(col("psi"), 6).as("psi6"))
      .orderBy("bucket")
  }

  // ---------------------------------------------------------------- q129
  /** Classifier evaluation ([[graft.operators.Eval.confusionAtThreshold]]
    * + [[graft.operators.Eval.rocAuc]]): q112's NB gate scored on its
    * own training corpus, judged as one long-form metric table —
    * confusion counts at the rounded-log-odds > 0 threshold, the
    * derived accuracy/precision/recall/F1, and exact Mann-Whitney
    * ROC-AUC with average ranks over the 6-decimal-rounded scores.
    * Counts are integers and every derived metric is ONE IEEE division
    * of exact longs (AUC's rank statistic is pure integer arithmetic),
    * so the whole frame is hash-exact with no rounding gate. The
    * oracle retrains the model (q112's chain), recomputes the
    * confusion cells, and replays the tie-averaged rank sum. */
  private def q129ClassifierEval(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Eval
    val scored = nbScored(s, dir)
    val cm = Eval.confusionAtThreshold(scored, "label", "sc", 0.0)
    val auc = Eval.rocAuc(scored, "label", "sc")
    def longForm(df: DataFrame, cols: Seq[String]): DataFrame =
      df.select(explode(array(cols.map(c =>
          struct(lit(c).as("metric"), col(c).cast("double").as("value"))): _*))
          .as("kv"))
        .select(col("kv.metric"), col("kv.value"))
    longForm(cm, Seq("n", "tp", "fp", "tn", "fn",
        "accuracy", "precision", "recall", "f1"))
      .unionByName(longForm(auc, Seq("n_pos", "n_neg", "auc")))
      .orderBy("metric")
  }

  // ---------------------------------------------------------------- q130
  /** Calibration table ([[graft.operators.Eval.calibrationBins]]):
    * q112's NB scores bucketed into 10 equi-width cells over the
    * corpus' own rounded-score [min, max] (two driver scalars, the
    * q127 pattern), each cell reporting observed positive rate vs the
    * DECIMAL-exact mean claimed score. Counts and `frac_pos` are
    * integer-exact; `mean_score` divides an exact DECIMAL(38,6) sum
    * once, so it rides the 6-decimal gate only to absorb the final
    * double cast. */
  private def q130Calibration(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Eval
    val scored = nbScored(s, dir)
    val Array(b) = scored.agg(min(col("sc")).as("lo"), max(col("sc")).as("hi"))
      .collect()
    Eval.calibrationBins(scored, "label", "sc", 10,
        b.getDouble(0), b.getDouble(1))
      .select(col("bucket"), round(col("lo"), 6).as("lo6"),
        round(col("hi"), 6).as("hi6"), col("n"), col("n_pos"),
        col("frac_pos"), round(col("mean_score"), 6).as("mean_score6"))
      .orderBy("bucket")
  }

  // ---------------------------------------------------------------- q131
  /** Incremental aggregate maintenance
    * ([[graft.operators.Maintain.summarize]] +
    * [[graft.operators.Maintain.merge]]): the monthly
    * (returnflag, linestatus, ship-month) rollup of lineitem kept
    * current by folding the 1996+ shard's summary into the pre-1996
    * base summary — the base FACT rows are never rescanned, which is
    * the entire point at 100 TB. Because every maintained statistic is
    * algebraic (count / DECIMAL-exact sums / min / max), the fold
    * provably equals the full recompute the oracle runs; the derived
    * mean divides the exact sums once. All counts and decimal sums are
    * integer/decimal-exact; doubles are single-division results — the
    * whole frame is hash-exact with no rounding gate. */
  private def q131IncrementalRollup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Maintain
    val spec = Maintain.SummarySpec(
      sums = Seq("qty_d", "price_d"),
      mins = Seq("l_discount"), maxs = Seq("l_discount"))
    val li = Tables.lineitem(s, dir).select(
      col("l_returnflag"), col("l_linestatus"),
      (year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
        .cast("int").as("ship_month"),
      col("l_quantity").cast("decimal(18,2)").as("qty_d"),
      col("l_extendedprice").cast("decimal(18,2)").as("price_d"),
      col("l_discount"), col("l_shipdate"))
    val split = lit("1996-01-01").cast("timestamp_ntz")
    val keys = Seq("l_returnflag", "l_linestatus", "ship_month")
    val base = Maintain.summarize(li.filter(col("l_shipdate") < split), keys, spec)
    val delta = Maintain.summarize(li.filter(col("l_shipdate") >= split), keys, spec)
    Maintain.merge(base, delta, keys, spec)
      .select(col("l_returnflag"), col("l_linestatus"), col("ship_month"),
        col("n"),
        col("qty_d_sum").cast("double").as("sum_qty"),
        col("price_d_sum").cast("double").as("sum_price"),
        col("l_discount_min").as("min_disc"),
        col("l_discount_max").as("max_disc"),
        (col("qty_d_sum").cast("double") / col("n").cast("double"))
          .as("avg_qty"))
      .orderBy("l_returnflag", "l_linestatus", "ship_month")
  }

  // ---------------------------------------------------------------- q132
  /** Multi-touch attribution
    * ([[graft.operators.Events.attributeConversions]]): every purchase
    * credited linearly (1/k) across the same user's view/click touches
    * in the trailing 7 days. Touch and conversion frames are
    * type-filtered at the scan, meet in one equi join on the user with
    * the window predicate as a post-probe filter, and the per-purchase
    * touch count runs conversion-bounded. The oracle replays the join,
    * the window rule's half-open bounds, and every 1/k split —
    * timestamps and counts integer-exact, the weight one IEEE division
    * of exact integers. */
  private def q132Attribution(s: SparkSession, dir: String): DataFrame = {
    Events.attributeConversions(
        Tables.events(s, dir).select("user_id", "ts", "event_id", "event_type"),
        "user_id", "ts", "event_type", "event_id",
        touchTypes = Seq("view", "click"), convType = "purchase",
        lookbackUs = 7L * 24 * 3600 * 1000000, model = "linear")
      .orderBy("conv_id", "touch_id")
  }

  // ---------------------------------------------------------------- q133
  /** Streaming incremental rollup
    * ([[graft.operators.Maintain.rollupMonitor]]): the
    * SAME monthly lineitem summary as q131, maintained by a file
    * stream folding each micro-batch's summary into a versioned
    * parquet state table inside `foreachBatch` — and held to q131's
    * VERBATIM full-recompute oracle, so batch fold and stream fold
    * are two formulations of one ground truth (the q92/q101/q102
    * pattern). Micro-batch partitioning provably cannot change the
    * answer because every maintained statistic merges associatively
    * and commutatively. */
  private def q133StreamRollup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Maintain
    val spec = Maintain.SummarySpec(
      sums = Seq("qty_d", "price_d"),
      mins = Seq("l_discount"), maxs = Seq("l_discount"))
    val li = Tables.lineitem(s, dir).select(
      col("l_returnflag"), col("l_linestatus"),
      (year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
        .cast("int").as("ship_month"),
      col("l_quantity").cast("decimal(18,2)").as("qty_d"),
      col("l_extendedprice").cast("decimal(18,2)").as("price_d"),
      col("l_discount"))
    val keys = Seq("l_returnflag", "l_linestatus", "ship_month")
    graft.streaming.StreamGate.monitor(Maintain.rollupMonitor(keys, spec), li)
      .select(col("l_returnflag"), col("l_linestatus"), col("ship_month"),
        col("n"),
        col("qty_d_sum").cast("double").as("sum_qty"),
        col("price_d_sum").cast("double").as("sum_price"),
        col("l_discount_min").as("min_disc"),
        col("l_discount_max").as("max_disc"),
        (col("qty_d_sum").cast("double") / col("n").cast("double"))
          .as("avg_qty"))
      .orderBy("l_returnflag", "l_linestatus", "ship_month")
  }

  // ---------------------------------------------------------------- q134
  /** Per-key time-series resampling + forward fill
    * ([[graft.operators.Events.resampleFfill]]): each user's event
    * values regularized onto a daily grid between that user's first
    * and last event — the step's last observed value where the day has
    * events (ties broken by event id), carried forward across silent
    * days. The oracle replays the integer floor-division bucketing,
    * the per-(user, day) argmax, each user's own grid span, and the
    * IGNORE NULLS forward fill; timestamps and grid steps are
    * integer-exact, values carried verbatim — hash-exact, no rounding
    * gate. */
  private def q134ResampleFfill(s: SparkSession, dir: String): DataFrame = {
    Events.resampleFfill(
        Tables.events(s, dir).select("user_id", "ts", "event_id", "value"),
        "user_id", "ts", "value", stepUs = 86400000000L,
        tieBreak = Seq("event_id"))
      .orderBy("user_id", "step_start_us")
  }

  // ---------------------------------------------------------------- q135
  /** Keyed snapshot diff ([[graft.operators.Maintain.snapshotDiff]]):
    * two deterministically derived customer snapshots compared into a
    * change feed — keys only in the next snapshot read `insert`, keys
    * only in the previous read `delete`, null-safe attribute drift
    * reads `update`, unchanged keys emit nothing. This is the
    * change-feed PRODUCER whose rows q123's `applyChanges` consumes
    * (the roundtrip `applyChanges(prev, diff) == next` is pinned by
    * spec). The oracle replays the full-outer join, presence rules,
    * and every prev/next cell — all values verbatim, hash-exact. */
  private def q135SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Maintain
    val cust = Tables.customer(s, dir)
    val prev = cust.filter(col("c_custkey") % 10 =!= 0)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    val next = cust.filter(col("c_custkey") % 13 =!= 0)
      .select(col("c_custkey"), col("c_mktsegment"),
        when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")).as("c_acctbal"))
    Maintain.snapshotDiff(prev, next, Seq("c_custkey"),
        Seq("c_mktsegment", "c_acctbal"))
      .orderBy("c_custkey")
  }

  // ---------------------------------------------------------------- q136
  /** ORC source with explicit schema ([[Tables.readOrc]]) — the q82/q95
    * pattern for the second columnar interchange format: `part` is
    * written to ORC, read back through the explicit schema (no footer
    * pre-scan), and rolled up per brand with per-string md5 extremes —
    * while the oracle reads the ORIGINAL parquet, so one byte mangled
    * in the ORC hop (string encoding, int widths, double bits) fails
    * the hash. Monetary doubles aggregate through DECIMAL(18,2) on
    * both sides (the q01 discipline). */
  private def q136OrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructField, StructType}
    val orcDir = Session.scratch("orc_part")
    Tables.part(s, dir).coalesce(2)
      .write.mode("overwrite").orc(orcDir)
    val schema = StructType(Seq(
      StructField("p_partkey", LongType),
      StructField("p_name", StringType),
      StructField("p_brand", StringType),
      StructField("p_type", StringType),
      StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType)))
    Tables.readOrc(s, orcDir, schema)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("p_size").cast("long")).as("sum_size"),
        sum(col("p_partkey")).as("sum_keys"),
        min(md5(col("p_name"))).as("min_name_md5"),
        max(md5(col("p_type"))).as("max_type_md5"),
        sum(col("p_retailprice").cast(DecimalType(18, 2)))
          .cast("double").as("sum_price"))
      .orderBy("p_brand")
  }

  // ---------------------------------------------------------------- q137
  /** Sharded corpus export with integrity manifest
    * ([[Sinks.exportShardsWithManifest]]): documents dealt into 8
    * deterministic shards via q61's md5 permutation, written
    * Hive-partitioned, and the manifest recomputed from a READ-BACK of
    * the written files — per shard the row count, character total,
    * [min, max] permutation positions, and an order-free `bit_xor`
    * 64-bit content checksum over portable per-row fingerprints. The
    * oracle re-derives the permutation, the shard deal, and every
    * fingerprint from the ORIGINAL table, so a row lost, duplicated,
    * or mangled anywhere in the write-read hop fails the hash;
    * everything is integer arithmetic, hash-exact. */
  private def q137ExportManifest(s: SparkSession, dir: String): DataFrame = {
    val path = Session.scratch("export_docs")
    Sinks.exportShardsWithManifest(
        Tables.documents(s, dir).select("doc_id", "text"),
        "doc_id", "text", nShards = 8, path)
      .orderBy("shard")
  }

  // ---------------------------------------------------------------- q138
  /** Trigram stupid-backoff LM scoring
    * ([[graft.operators.Corpus.stupidBackoffScore]]): every document
    * scored against a reference LM trained on the English slice, with
    * OOV trigrams planted into every 17th document so ALL FOUR scoring
    * paths fire non-vacuously (measured at sf0.01: 16791 trigram-hit /
    * 9362 bigram-backoff / 12 seen-unigram / 90 OOV-floor positions).
    * The oracle retrains the identical count tables in SQL and replays
    * every per-position CASE with explicit double arithmetic (DuckDB
    * decimal literals forced to DOUBLE); counts integer-exact, the
    * mean log score on the q100-style 6-decimal gate. */
  private def q138StupidBackoff(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    val docs = Tables.documents(s, dir)
    val cand = docs.select(col("doc_id"),
      when(col("doc_id") % 17 === 0,
        concat(col("text"), lit(" qq17 ww17 qq17")))
        .otherwise(col("text")).as("text"))
    val ref = docs.filter(col("lang") === "en").select("doc_id", "text")
    Corpus.stupidBackoffScore(ref, cand, "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_scored"),
        round(col("avg_logscore"), 6).as("avg_logscore6"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q139
  /** Corpus composition + vocabulary coverage
    * ([[graft.operators.Corpus.compositionReport]]): the per-(source,
    * lang) mixture table — docs, chars, tokens, corpus share — plus
    * each slice's OOV rate against a tokenizer vocabulary built from
    * the English slice with a scale-invariant frequency floor
    * (minFreq = ceil(refTokens/1000), so the same rare token falls
    * out of vocabulary at every SF and the OOV counts stay
    * non-vacuous). The oracle rebuilds the vocabulary and replays
    * every per-slice count; counts integer-exact, shares/rates single
    * IEEE divisions — hash-exact, no rounding gate. */
  private def q139CorpusComposition(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    val docs = Tables.documents(s, dir)
    val freq = Corpus.tokenFrequencies(docs.filter(col("lang") === "en"), "text")
    val nRef = freq.agg(coalesce(sum(col("freq")), lit(0L))).head().getLong(0)
    val minFreq = math.max(1L, (nRef + 999L) / 1000L)
    val vocab = Corpus.vocabularyFromFrequencies(freq, minFreq)
    Corpus.compositionReport(docs, Seq("source", "lang"), "text", vocab)
      .orderBy("source", "lang")
  }

  // ---------------------------------------------------------------- q140
  /** k-anonymity audit ([[graft.operators.Quality.kAnonymityAudit]]):
    * the re-identification-risk profile of customer over the
    * (segment, nation, account-balance band) quasi-identifier — one
    * row per equivalence-class size with group/row counts and the
    * k=10 risk flag. The oracle replays the class aggregation and the
    * size profile; everything is integer arithmetic, hash-exact. */
  private def q140KAnonymity(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quality
    val cust = Tables.customer(s, dir).withColumn("bal_band",
      floor(col("c_acctbal") / 1000.0).cast("long"))
    Quality.kAnonymityAudit(cust,
        Seq("c_mktsegment", "c_nationkey", "bal_band"), k = 10L)
      .orderBy("group_size")
  }

  // ---------------------------------------------------------------- q141
  /** Top-k frequent session paths
    * ([[graft.operators.Events.topPaths]]): q22's 30-minute sessions
    * rendered as their time-ordered event-type paths (first 5 steps,
    * event-id tie break) and counted — funnel DISCOVERY next to q92's
    * fixed-funnel measurement. The oracle replays sessionization, the
    * ordered-list truncation, the path counts, and the
    * (count desc, path) top-40 cutoff; all integers and strings,
    * hash-exact. */
  private def q141TopPaths(s: SparkSession, dir: String): DataFrame = {
    val sess = Sessionize.sessionize(
      Tables.events(s, dir).select("user_id", "ts", "event_id", "event_type"),
      Seq("user_id"), "ts", 30L * 60 * 1000000, tieBreak = Seq("event_id"))
    Events.topPaths(sess, Seq("user_id", "session_id"), "ts", "event_type",
      k = 40, maxLen = 5, tieBreak = Seq("event_id"))
  }

  // ---------------------------------------------------------------- q142
  /** Embedding-space drift monitor
    * ([[graft.operators.Similarity.embeddingDrift]]): even-id vectors
    * as the reference, odd-id vectors with dimension 0 scaled ×4 (an
    * exact power-of-two float scale — no rounding on either engine) as
    * the drifted current corpus; PSI over cosine-to-reference-centroid
    * buckets. The oracle recomputes the rounded centroid (q71's
    * 6-decimal mean gate), every rounded cosine (q17's 4-decimal
    * gate), the reference-bound buckets, and the PSI tail; counts
    * integer-exact, psi on the 6-decimal gate. */
  private def q142EmbeddingDrift(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val ref = emb.filter(col("vec_id") % 2 === 0)
    val cur = emb.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x * lit(4.0f)).otherwise(x))
          .as("embedding"))
    Similarity.embeddingDrift(ref, cur, "embedding", bins = 20)
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        round(col("psi"), 6).as("psi6"))
      .orderBy("bucket")
  }

  // ---------------------------------------------------------------- q143
  /** CSV quarantine ingestion ([[Tables.readCsvWithQuarantine]]):
    * nation written as a clean CSV shard plus a torn shard with three
    * malformed lines (int-parse failures and an extra-token row);
    * PERMISSIVE parsing lands the torn rows' RAW text in the corrupt
    * column instead of failing the job, and the query reports the
    * good/quarantined split with value samples. The oracle reads the
    * ORIGINAL parquet for the good half and hardcodes the planted
    * torn lines — any row mis-parsed to the wrong side fails the
    * hash. */
  private def q143CsvQuarantine(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    val dirPath = Session.scratch("csv_quarantine")
    Tables.nation(s, dir).coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(dirPath)
    import s.implicits._
    // a torn shard: its own header line (header=true skips the first
    // line of EVERY file) + three malformed rows
    Seq("n_nationkey,n_name,n_regionkey",
        "abc,TORN_A,1", "2,TORN_B,zz", "3,TORN_C,4,EXTRA")
      .toDF("value").coalesce(1).write.mode("append").text(dirPath)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    // localCheckpoint severs the scan so the quarantine branch may
    // reference only the corrupt column (Spark disallows that straight
    // off a raw CSV scan)
    val raw = Blocks.checkpoint(
      Tables.readCsvWithQuarantine(s, dirPath, schema))
    val g = raw.filter(col("_corrupt_record").isNull)
      .agg(count(lit(1)).as("n"), min(col("n_name")).as("sample"))
      .select(lit("good").as("kind"), col("n"), col("sample"))
    val b = raw.filter(col("_corrupt_record").isNotNull)
      .agg(count(lit(1)).as("n"), min(col("_corrupt_record")).as("sample"))
      .select(lit("quarantined").as("kind"), col("n"), col("sample"))
    g.unionByName(b).orderBy("kind")
  }

  // ---------------------------------------------------------------- q144
  /** Sequence-packing efficiency report
    * ([[graft.operators.Corpus.paddingReport]]): per-document padded
    * batching vs contiguous packing at seqLen=128 over `documents` —
    * the single-row justification for the q54/q108 packing operators.
    * Everything is exact integer ceil arithmetic plus two single
    * IEEE divisions — hash-exact, no rounding gate. */
  private def q144PaddingReport(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.paddingReport(
      Tables.documents(s, dir), "text", seqLen = 128)

  // ---------------------------------------------------------------- q145
  /** Vocabulary coverage curve
    * ([[graft.operators.Corpus.vocabCoverageCurve]]): tokens needed to
    * cover 25/50/75/90/99/100% of the document token stream — the
    * tokenizer-sizing report, computed with one prefix-summed
    * conditional aggregation over the frequency table. The oracle
    * replays the (freq desc, token) cumulative order and every
    * threshold count; all integers (thresholds are identical double
    * products), hash-exact. */
  private def q145VocabCoverage(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    Corpus.vocabCoverageCurve(Tables.documents(s, dir), "text",
        Seq(0.25, 0.5, 0.75, 0.9, 0.99, 1.0))
      .orderBy("target")
  }

  // ---------------------------------------------------------------- q146
  /** Referential-integrity audit
    * ([[graft.operators.Quality.referentialIntegrity]]): two FK
    * relations checked long-form — lineitem→orders (clean by
    * construction: 0 orphans proves the join key) and a deliberately
    * torn orders→customer (every 97th custkey shifted out of range,
    * plus every 89th nulled — NULL references are counted separately,
    * NOT as orphans). The oracle replays the distinct-parent left
    * join and every count; rates are single divisions — hash-exact. */
  private def q146ReferentialIntegrity(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quality
    val li = Tables.lineitem(s, dir)
    val orders = Tables.orders(s, dir)
    val cust = Tables.customer(s, dir)
    val torn = orders.select(
      when(col("o_orderkey") % 89 === 0, lit(null))
        .otherwise(when(col("o_orderkey") % 97 === 0,
          col("o_custkey") + 1000000000L).otherwise(col("o_custkey")))
        .as("cust_ref"))
    Quality.referentialIntegrity(li, Seq("l_orderkey"),
        orders, Seq("o_orderkey"), "lineitem->orders")
      .unionByName(Quality.referentialIntegrity(torn, Seq("cust_ref"),
        cust, Seq("c_custkey"), "orders->customer"))
      .orderBy("relation")
  }

  // ---------------------------------------------------------------- q147
  /** Tukey IQR outlier screen
    * ([[graft.operators.Stats.iqrOutlierFlags]]): event values flagged
    * against per-type exact-quartile fences (k=1.5), rolled up per
    * type — ~90-99 outliers per type at sf0.01, genuinely mixed. The
    * flag compares 6-decimal-ROUNDED fences on both engines (the q118
    * discipline), so an interpolation ulp cannot flip a boundary row;
    * counts integer-exact, fences on the rounding gate. */
  private def q147IqrOutliers(s: SparkSession, dir: String): DataFrame = {
    Stats.iqrOutlierFlags(
        Tables.events(s, dir).select("event_type", "value"),
        Seq("event_type"), "value", k = 1.5)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min(col("lo_fence")).as("lo_fence"),
        min(col("hi_fence")).as("hi_fence"),
        sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("event_type")
  }

  private def nbScored(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Classify
    val docs = Tables.documents(s, dir)
      .withColumn("label", col("lang") === "en")
    val model = Classify.trainNaiveBayes(docs, "text", "label")
    Classify.scoreNaiveBayes(docs, "doc_id", "text", model)
      .join(docs.select(col("doc_id"), col("label")), Seq("doc_id"))
      .select(col("doc_id"), col("label"), round(col("log_odds"), 6).as("sc"))
  }

  // ---------------------------------------------------------------- q148
  /** Precision-recall threshold sweep ([[graft.operators.Eval.prCurve]]):
    * q112's NB gate traced at seven operating points in ONE algebraic
    * pass — the threshold chooser next to q129's single-point
    * confusion. Counts are integers, rates single divisions of exact
    * longs — hash-exact, no rounding gate. The oracle retrains the
    * model and replays every threshold's cells. */
  private def q148PrCurve(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Eval
    Eval.prCurve(nbScored(s, dir), "label", "sc",
        Seq(-5.0, -2.0, -1.0, 0.0, 1.0, 2.0, 5.0))
      .orderBy("threshold")
  }

  // ---------------------------------------------------------------- q149
  /** Decile lift table ([[graft.operators.Eval.liftTable]]): q112's NB
    * scores ranked descending (ties by doc id) through the
    * range-partitioned contiguous-rank machinery, cut into 10
    * near-equal buckets, each judged against the global positive rate.
    * The oracle replays the rank order, the integer DIV bucket cut,
    * and every rate/lift division — hash-exact. */
  private def q149LiftTable(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Eval
    Eval.liftTable(nbScored(s, dir), "label", "sc", "doc_id", nBuckets = 10)
      .orderBy("bucket")
  }

  // ---------------------------------------------------------------- q150
  /** Cross-source duplication matrix: q14's MinHash-LSH near-dup pair
    * machinery rolled up by SOURCE pair — "which crawls duplicate each
    * other" is the mixture-weighting diagnostic (within-source pairs
    * mean a crawler re-fetching; cross-source pairs mean two feeds
    * shipping the same content, and deduping one of them changes the
    * mixture). Matrix keys are order-normalized (lo ≤ hi) so each
    * unordered source pair lands in one cell; the source lookup joins
    * the pair frame (pair-bounded) against the id→source projection
    * unhinted — AQE broadcasts it. The oracle recomputes the EXACT
    * full Jaccard pair set (q14's full-recall gate) and the identical
    * rollup; counts integer-exact, hash-exact. */
  private def q150CrossSourceDup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.minHashNearDupPairs(docs, "doc_id", "text")
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("src_a")),
        "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("src_b")),
        "id_b")
      .select(least(col("src_a"), col("src_b")).as("source_lo"),
        greatest(col("src_a"), col("src_b")).as("source_hi"))
      .groupBy("source_lo", "source_hi")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("cross_source", col("source_lo") =!= col("source_hi"))
      .orderBy("source_lo", "source_hi")
  }

  // ---------------------------------------------------------------- q151
  /** Federated multi-format ingest through the reference-core concat
    * ([[Concat.concat]] over [[Tables.readCsv]]/[[Tables.readOrc]]/
    * parquet): the same table arriving as parquet (BIGINT keys), a
    * CSV shard read with INT keys, and an ORC shard MISSING a column —
    * the schema-harmonizing union widens int→bigint through the
    * lattice, null-fills the missing column, and tags each row with
    * its source key. This is the reference's headline operator doing
    * its production job across three interchange formats. The oracle
    * replays the three reads (CAST widths and the NULL fill) and the
    * rollup; all integers, hash-exact. */
  private def q151FederatedConcat(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    val csvDir = Session.scratch("fed_csv")
    val orcDir = Session.scratch("fed_orc")
    val base = Tables.nation(s, dir)
    base.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(csvDir)
    base.select("n_nationkey", "n_name").coalesce(1)
      .write.mode("overwrite").orc(orcDir)
    val fromCsv = Tables.readCsv(s, csvDir, StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))))
    val fromOrc = Tables.readOrc(s, orcDir, StructType(Seq(
      StructField("n_nationkey", org.apache.spark.sql.types.LongType),
      StructField("n_name", StringType))))
    Concat.concat(Seq(base, fromCsv, fromOrc),
        keys = Seq("pq", "csv", "orc"), name = "src")
      .groupBy("src")
      .agg(count(lit(1)).as("n_nations"),
        sum(col("n_nationkey")).as("sum_keys"),
        sum(when(col("n_regionkey").isNull, 1L).otherwise(0L))
          .as("n_null_region"),
        min(col("n_name")).as("min_name"))
      .orderBy("src")
  }

  // ---------------------------------------------------------------- q152
  /** Month-over-month growth table: monthly DECIMAL-exact revenue per
    * market segment with the lag-window percent change — the standard
    * BI time-series readout, windows sorted within segments only.
    * Revenue sums ride DECIMAL(18,2) (the q01 discipline) so partition
    * order cannot show; `mom_pct` divides two exact decimals cast to
    * double once, gated at 6 decimals only to absorb the final cast. */
  private def q152MomGrowth(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir).join(
      Tables.customer(s, dir).select("c_custkey", "c_mktsegment"),
      col("o_custkey") === col("c_custkey"))
    val monthly = o.groupBy(col("c_mktsegment"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("int").as("ym"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("__rev"))
    val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("ym"))
    monthly.select(col("c_mktsegment"), col("ym"),
        col("__rev").cast("double").as("revenue"),
        lag(col("__rev"), 1).over(w).cast("double").as("__prev"))
      .withColumn("mom_pct",
        round((col("revenue") - col("__prev")) / col("__prev") * lit(100.0), 6))
      .drop("__prev")
      .orderBy("c_mktsegment", "ym")
  }

  // ---------------------------------------------------------------- q153
  /** STREAMING correctness gate, stream-stream LEFT OUTER interval
    * join ([[graft.streaming.StreamGate.replayLeftOuterIntervalJoin]]):
    * views joined to same-user purchases within 2 hours, with views
    * that never converted emitting a NULL right side once their
    * window expires below the watermark — the null-side emission an
    * inner join cannot express in-stream. The oracle is the plain
    * batch LEFT join over the original events, so the stream must
    * reproduce the match set AND the unmatched set exactly — an
    * unmatched row that never flushed, or one that emitted twice,
    * fails the hash. */
  private def q153StreamLeftOuterJoin(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.replayLeftOuterIntervalJoin(
        Tables.events(s, dir), typeA = "view", typeB = "purchase",
        maxGap = "2 hours", watermark = "4 hours",
        horizonUs = 8L * 3600 * 1000000)
      .orderBy(col("user_id"), col("id_a"), col("id_b").asc_nulls_first)

  // ---------------------------------------------------------------- q154
  /** Video-style frame-set near-dup
    * ([[Multimodal.frameNearDupPairs]]): q104's payload corpus + its
    * first-byte-zeroed twins, but matched on FRAME-SIGNATURE SET
    * Jaccard — each payload sampled into 8 evenly-spaced 16-byte
    * frames, each frame dHashed, candidates met in one equi join on
    * the frame signature. Zeroing byte 0 perturbs ONLY frame 0 (no
    * other sampled window covers offset 0), so every twin shares all
    * remaining frames with its original — the trimmed-copy shape
    * single-image dHash misses. Unlike the LSH families this operator
    * is EXACT (a qualifying pair must share >= 1 frame signature, so
    * the signature join has full recall by construction); the oracle
    * recomputes frames, every per-frame 72-cell signature, distinct
    * sets, and every Jaccard value — integer-exact counts, one IEEE
    * division. */
  private def q154FrameNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id").as("media_id"),
        col("text").cast("binary").as("payload"))
    val twins = docs.select(
      guardedTwinId(col("media_id"), 1000000L).as("media_id"),
      concat(lit(Array[Byte](0)),
        substring(col("payload"), 2, Int.MaxValue)).as("payload"))
    Multimodal.frameNearDupPairs(docs.unionAll(twins),
        nFrames = 8, frameBytes = 16, threshold = 0.6,
        maxFrameBucket = 10000)
      .orderBy("id_a", "id_b")
  }

  // ---------------------------------------------------------------- q155
  /** Truncation-duplicate detection ([[Dedup.truncationDupIds]]):
    * documents ∪ half-length truncated twins, flagged by the
    * sorted-adjacency identity (a distinct text is a proper prefix of
    * another iff it is a prefix of its lexicographic successor) — one
    * range-partitioned sort instead of the n² `starts_with` scan. The
    * oracle IS that n² scan (EXISTS over the full corpus), so a single
    * text the adjacency test misses — including the duplicate-text
    * trap where an equal copy sits between a text and its extension —
    * fails the hash. Twins are planted at half length so every base
    * doc has a guaranteed truncated copy and the flagged set is
    * non-vacuous (~500 rows at sf0.01). */
  private def q155TruncationDups(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"), col("n_chars"))
    val twins = docs.select(
      guardedTwinId(col("doc_id"), 1000000L).as("doc_id"),
      col("text").substr(lit(1),
        greatest(lit(1), floor(col("n_chars") / lit(2)).cast("int"))).as("text"))
    Dedup.truncationDupIds(
        docs.select("doc_id", "text").unionAll(twins), "doc_id", "text")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q156
  /** Skip-gram co-occurrence counts ([[Corpus.skipGramPairs]]) at
    * window 3 — the word2vec/GloVe training-pair table. The engine
    * generates pairs map-only (each position against a `slice` of its
    * own token array); the oracle generates them the independent way,
    * a positional self-join — same multiset or the hash fails. Every
    * count is an integer, no rounding gate. */
  private def q156SkipGrams(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    Corpus.skipGramPairs(Tables.documents(s, dir), "text", window = 3)
      .orderBy("w_a", "w_b")
  }

  // ---------------------------------------------------------------- q157
  /** Blocklist phrase gate ([[graft.operators.Quality.blocklistAudit]]):
    * documents audited against a 5-term policy mixing single tokens
    * and two-token phrases, flagged above 4 hits — a genuinely mixed
    * profile at sf0.01 (321 clean / 179 flagged). The oracle rebuilds
    * the token and bigram streams with a positional self-join and
    * replays every count — total hits, distinct terms, and the flag
    * are all integers/booleans, hash-exact. */
  private def q157BlocklistGate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quality
    Quality.blocklistAudit(Tables.documents(s, dir), "doc_id", "text",
        terms = Seq("slow", "vector", "big table", "slow fast", "the slow"),
        maxHits = 4L)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q158
  /** Entropy quality scores ([[TextFunctions.charEntropyBits]] /
    * [[TextFunctions.tokenEntropyBits]]): per-document Shannon entropy
    * of the character and token unigram distributions — the
    * gibberish/low-diversity filter of the Gopher-rule family, fully
    * map-only (zero shuffles before the output sort). Entropies are
    * compared ROUNDED at 6 decimals because the per-char/per-token
    * IEEE fold order differs between engines; the flag compares the
    * ROUNDED value (the q118 discipline) so it cannot disagree at a
    * sub-gate margin. Threshold 4.4 bits splits sf0.01 211/289 —
    * genuinely mixed. */
  private def q158EntropyScores(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        round(TextFunctions.charEntropyBits(col("text")), 6).as("char_ent6"),
        round(TextFunctions.tokenEntropyBits(col("text")), 6).as("token_ent6"))
      .withColumn("low_diversity", col("token_ent6") < 4.4)
      .orderBy("doc_id")

  // ---------------------------------------------------------------- q159
  /** Exact all-pairs TF-IDF cosine with prefix filtering
    * ([[graft.operators.Apss.allPairsCosine]], Bayardo et al. WWW'07):
    * documents ∪ one-token-appended twins (a twin keeps every base
    * trigram and adds exactly one, so each pair's cosine is high but
    * not 1), all pairs with trigram-TF-IDF cosine >= 0.8. The engine
    * prunes through the suffix-index theorem; the oracle is the FULL
    * inverted-index n² formulation — tf, df, ln-idf, norms, and every
    * shared-gram dot replayed — so one pair lost to a wrong prefix
    * bound fails the hash. Cosines compared ROUNDED at 6 (membership
    * decided on the rounded value on both sides); 600 pairs at
    * sf0.01, min cos 0.818. */
  private def q159ApssPairs(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Apss
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val twins = docs.select(
      guardedTwinId(col("doc_id"), 1000000L).as("doc_id"),
      concat(col("text"), lit(" graftzz")).as("text"))
    Apss.allPairsCosine(docs.unionAll(twins), "doc_id", "text",
        n = 3, threshold = 0.8)
      .orderBy("id_a", "id_b")
  }

  // ---------------------------------------------------------------- q160
  /** Embargoed temporal split ([[Events.temporalSplit]]): events cut
    * at 2024-01-22 with a 2-day embargo band that belongs to neither
    * side, rolled up per (split, event_type) with event and distinct-
    * user counts. The oracle replays the same µs comparisons — all
    * integers, hash-exact; all three bands are non-empty at every SF
    * by the data's 30-day span. */
  private def q160TemporalSplit(s: SparkSession, dir: String): DataFrame =
    Events.temporalSplit(Tables.events(s, dir), "ts",
        cutoffUs = 1705881600000000L, embargoUs = 2L * 86400 * 1000000)
      .groupBy("split", "event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("split", "event_type")

  // ---------------------------------------------------------------- q161
  /** Contrastive training pairs ([[graft.operators.Corpus
    * .contrastivePairs]]): q14's verified near-dup pairs as positives,
    * an md5-derangement as negatives, accidental positives excluded
    * exactly via LSH's full recall. The oracle recomputes the exact
    * Jaccard pair graph (q14's full-recall gate), the md5 permutation,
    * the shifted-rank pairing, and the exclusion — ids and labels all
    * integers, hash-exact. */
  private def q161ContrastivePairs(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    Corpus.contrastivePairs(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .orderBy("id_a", "id_b")
  }

  // ---------------------------------------------------------------- q162
  /** Audio-style silence trimming ([[Multimodal.trimSilence]]):
    * document payloads ∪ twins padded with 48 leading + 48 trailing
    * 0x20 bytes (3 dead frames each side at frameBytes=16), trimmed
    * at frame granularity. The oracle recomputes every frame's
    * silent/active flag from the hex dump in SQL and re-derives the
    * bounds and the trimmed bytes' md5 — a frame boundary off by one
    * byte anywhere fails the hash. Base rows prove the no-op path
    * (nothing trimmed); twins prove both edges trim while interior
    * spaces survive. */
  private def q162TrimSilence(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
    val base = docs.select(col("doc_id").as("media_id"),
      col("text").cast("binary").as("payload"))
    val pad = " " * 48
    val twins = docs.select(
      guardedTwinId(col("doc_id"), 1000000L).as("media_id"),
      concat(lit(pad), col("text"), lit(pad)).cast("binary").as("payload"))
    Multimodal.trimSilence(base.unionAll(twins), frameBytes = 16)
      .orderBy("media_id")
  }

  // ---------------------------------------------------------------- q163
  /** Deterministic MLM masking ([[graft.operators.Corpus.maskTokens]])
    * at exactly 2/16 = 12.5%: every (doc, position) decision is the
    * portable md5 residue, so the oracle replays each one with hex-
    * digit arithmetic and rebuilds every corrupted text verbatim —
    * one flipped mask anywhere fails the hash. Counts integer-exact. */
  private def q163MaskTokens(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    Corpus.maskTokens(Tables.documents(s, dir), "doc_id", "text",
        num = 2, den = 16)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q164
  /** Reciprocal rank fusion ([[graft.operators.Eval
    * .reciprocalRankFusion]]): a lexical list (integer term-frequency
    * over three query terms — exact scores, ties by id) fused with a
    * dense list (cosine to vec 0's embedding, rounded at 4 per the
    * q17 cosineF32 gate BEFORE ranking so a ulp cannot swap ranks),
    * k0=60, top 50. The oracle replays both rankings with row_number,
    * every 1/(k0+r) contribution, the 6-decimal rounded fusion, and
    * the (fused6 desc, id) cutoff. */
  private def q164RankFusion(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Eval
    import graft.expressions.GraftFunctions
    val terms = Seq("window", "merge", "stream")
    val toks = TextFunctions.tokens(col("text"))
    val lex = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(filter(toks, x => x.isin(terms: _*))).cast("double").as("score"))
      .filter(col("score") > 0)
    val emb = Tables.embeddings(s, dir)
    val qv = emb.filter(col("vec_id") === 0L).head()
      .getSeq[Float](emb.schema.fieldIndex("embedding"))
    val sem = emb.select(col("vec_id").as("doc_id"),
      round(GraftFunctions.cosineF32(emb, col("embedding"),
        Similarity.vectorLit(qv)), 4).as("score"))
    Eval.reciprocalRankFusion(Seq(lex, sem), "doc_id", "score",
        k0 = 60, topK = 50)
      .orderBy(col("fused6").desc, col("doc_id"))
  }

  // ---------------------------------------------------------------- q165
  /** Per-slice ROC-AUC ([[graft.operators.Eval.rocAucByGroup]]):
    * q112's NB gate evaluated per SOURCE — the slice view that catches
    * a model failing one crawl while the pooled q129 number looks
    * fine. Every source is a 25-doc mixed-label slice at sf0.01, so
    * all 20 AUCs are live; the oracle retrains the model and replays
    * each slice's tie-averaged rank sum — counts integer-exact, AUC
    * ONE IEEE division of exact longs, hash-exact with no rounding
    * gate. */
  private def q165AucBySource(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Eval
    val scored = nbScored(s, dir)
      .join(Tables.documents(s, dir).select("doc_id", "source"), Seq("doc_id"))
    Eval.rocAucByGroup(scored, Seq("source"), "label", "sc")
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q166
  /** Dedup savings report ([[Dedup.dedupSavingsReport]]): q46's
    * near-dup cluster graph rolled up by cluster size with char
    * weights and the min-id-retention removable mass — the
    * run-the-dedup-or-not readout. The oracle reuses the exact-Jaccard
    * recursive-CTE component ground truth (q46/q63/q74's) and replays
    * both rollups — all integers, hash-exact; size-1 rows reconcile
    * the report against the full corpus. */
  private def q166DedupSavings(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = Dedup.minHashNearDupPairs(docs, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.5)
    Dedup.dedupSavingsReport(docs, "doc_id", "n_chars", pairs)
      .orderBy("cluster_size")
  }

  // ---------------------------------------------------------------- q167
  /** Nearest as-of join ([[AsOfJoin.asofNearest]]): each view event
    * matched to the |Δt|-closest purchase by the same user within 2
    * hours, past or future, ties backward — pandas
    * `merge_asof(direction='nearest')`, completing the as-of surface
    * q21 opened. The oracle ranks every in-tolerance candidate by
    * (|Δ|, backward-first) per view and keeps rank 1 — the engine's
    * two-pass backward/forward pick must agree row for row; unmatched
    * views stay with nulls. Timestamps/deltas integer µs, hash-exact. */
  private def q167AsofNearest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("event_id").as("pid"))
    AsOfJoin.asofNearest(views, purch, Seq("user_id"), "ts", "pts",
        Seq("pid"), toleranceUs = Some(2L * 3600 * 1000000))
      .select(col("event_id"), col("user_id"),
        col("asof_pid").as("purchase_id"),
        (unix_micros(col("asof_pts")) - unix_micros(col("ts")))
          .as("delta_us"))
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- q168
  /** Language-ID confusion audit: q16's n-gram-marker [[TextFunctions
    * .langId]] heuristic judged against the gold `lang` labels — one
    * row per (gold, predicted) cell with the within-gold share, the
    * eval readout that tells a pipeline owner whether the cheap
    * heuristic is good enough to route on. Counts integer-exact,
    * share one IEEE division; the totals join is unhinted (AQE
    * broadcasts the 5-row total set). */
  private def q168LangIdAudit(s: SparkSession, dir: String): DataFrame = {
    val labeled = Tables.documents(s, dir)
      .select(col("lang"), TextFunctions.langId(col("text")).as("predicted"))
    val cells = labeled.groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
    val totals = labeled.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    cells.join(totals, Seq("lang"))
      .select(col("lang"), col("predicted"), col("n"), col("n_lang"),
        (col("n").cast("double") / col("n_lang").cast("double")).as("share"))
      .orderBy("lang", "predicted")
  }

  // ---------------------------------------------------------------- q169
  /** Streaming drift monitor ([[graft.operators.Profile
    * .driftMonitor]]): q128's PSI with the monitored slice
    * arriving as a FILE STREAM — per-micro-batch histograms folded
    * into a versioned bins-bounded state table (counts merge by sum,
    * associative + commutative, so micro-batch partitioning provably
    * cannot change the answer), final PSI from the accumulated
    * histogram. Held to q128's VERBATIM oracle — batch drift and
    * stream-maintained drift are two formulations of one ground truth
    * (the q131/q133 pattern). */
  private def q169StreamDrift(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val split = lit("1996-01-01").cast("timestamp_ntz")
    val ref = orders.filter(col("o_orderdate") < split)
    val cur = orders.filter(col("o_orderdate") >= split)
    val Array(b) = ref.agg(
      min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
      .collect()
    graft.streaming.StreamGate.monitor(
        Profile.driftMonitor(ref, "o_totalprice", 20, b.getDouble(0),
          b.getDouble(1)),
        cur)
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        round(col("psi"), 6).as("psi6"))
      .orderBy("bucket")
  }

  // ---------------------------------------------------------------- q170
  /** Skew planning report ([[graft.operators.Skew.skewPlanReport]]):
    * the measurement that decides whether a salted join/agg (or AQE's
    * skew split) is worth its replication cost BEFORE the shuffle
    * runs — per-key loads, hot keys above 4x the mean, and the salt
    * factor targeting 2x the mean per task. The generated events
    * table is deliberately uniform, so the query plants a hot-user
    * burst first (users ≡ 0 mod 37 replicated 20x via a map-side
    * explode); the report must flag EXACTLY those five users.
    * Integer-exact end to end — the mean key load is one floored
    * driver scalar, hotness and the salt ceiling are long/DIV
    * arithmetic, so the oracle match is hash-exact with no IEEE
    * division anywhere. */
  private def q170SkewPlan(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"))
    val burst = ev.filter(col("user_id") % 37 === 0)
      .withColumn("__k", explode(sequence(lit(1), lit(19)))).drop("__k")
    graft.operators.Skew.skewPlanReport(ev.unionByName(burst),
        Seq("user_id"), hotFactor = 4, targetFactor = 2)
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------- q171
  /** Boilerplate line removal
    * ([[graft.operators.Corpus.removeBoilerplateLines]]) — the CCNet
    * line-granularity cleaning recipe, over documents given the line
    * structure the generated corpus lacks: each doc becomes
    * header(source) \n "ok" \n body \n footer, where the per-source
    * header is shared by that source's docs, the footer by the whole
    * corpus, "ok" is under minLineChars (the short-line exemption must
    * keep it), and the body line is unique per doc (no 3 docs share a
    * text). With minDocs=3 the header and footer classes are removed
    * from every doc and both guards are exercised; the oracle
    * recomputes the candidate-line table, the distinct-doc rule, and
    * every rebuilt text — one line dropped or kept wrongly anywhere
    * fails the hash. */
  private def q171BoilerplateLines(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        concat_ws("\n",
          concat(lit("subscribe to "), col("source"), lit(" newsletter today")),
          lit("ok"),
          col("text"),
          lit("all rights reserved worldwide")).as("text"))
    graft.operators.Corpus.removeBoilerplateLines(docs, "doc_id", "text",
        minDocs = 3, minLineChars = 5)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q172
  /** Token-budget corpus selection
    * ([[graft.operators.Corpus.tokenBudgetSelect]]) — the data budget
    * allocator: per crawl source, rank docs by lexical-diversity score
    * (distinct-token ratio, ties by id) and keep the best prefix
    * fitting a 600-token budget. The cumulative count is the
    * range-partitioned two-pass prefix sum — never a per-source
    * single-task window — and the oracle replays the ranking and every
    * inclusive cumulative sum with a SQL window; one mis-ranked or
    * mis-summed doc anywhere fails the hash. */
  private def q172TokenBudget(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        (size(array_distinct(toks)).cast("double") /
          size(toks).cast("double")).as("score"),
        size(toks).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    graft.operators.Corpus.tokenBudgetSelect(base, "doc_id", "source",
        "score", "n_tokens", budgetTokens = 600L)
      .orderBy("source", "doc_id")
  }

  // ---------------------------------------------------------------- q173
  /** Streaming semantic decontamination gate
    * ([[graft.streaming.StreamGate.replaySemanticGate]]): q110's eval
    * corpus arriving as a FILE STREAM, each micro-batch flagged
    * against the static train embeddings + the once-trained IVF model
    * inside foreachBatch. Per-eval-row independence makes micro-batch
    * partitioning provably irrelevant, so this replay is held to
    * q110's VERBATIM oracle (the literal same SQL string) — the
    * q128/q169 pattern: batch and stream are two formulations of one
    * ground truth. Closes the decontamination matrix: lexical batch
    * (q55) / lexical stream (q113) / semantic batch (q110) / semantic
    * stream (this). */
  private def q173StreamSemanticGate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Ivf
    val emb = Tables.embeddings(s, dir)
    val evalTwins = emb.filter(col("vec_id") % 3 === 0).select(
      guardedTwinId(col("vec_id"), 1000000L).as("vec_id"),
      transform(col("embedding"),
        (x, i) => when(i === lit(0), x * lit(2.0f)).otherwise(x))
        .as("embedding"))
    val evalClean = emb.filter(col("vec_id") % 3 === 1).select(
      guardedTwinId(col("vec_id"), 2000000L).as("vec_id"),
      reverse(col("embedding")).as("embedding"))
    val eval = evalTwins.unionByName(evalClean)
    val model = Ivf.train(emb, "vec_id", "embedding",
      k = 16, iters = 3, sampleMod = 4)
    graft.streaming.StreamGate.replaySemanticGate(eval, emb,
        "vec_id", "embedding", model, threshold = 0.9, nprobe = 6)
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- q174
  /** Compaction plan ([[graft.operators.Layout.compactionPlan]]): the
    * nightly small-file maintenance decision over a synthetic manifest
    * — one "file" per document sized by its character count, plus
    * 100x-sized big files for every doc_id ≡ 0 mod 97 (which must come
    * back with bin NULL: rewriting an already-large file is pure write
    * amplification). Sorted-fill packing: (bytes desc, path) order,
    * exclusive running-total offset, bin = offset DIV target — the
    * oracle replays the sort, the window prefix sum, and every DIV;
    * one misplaced file anywhere fails the hash. */
  private def q174CompactionPlan(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val manifest = docs
      .select(col("doc_id").cast("string").as("path"),
        col("n_chars").as("bytes"))
      .unionByName(docs.filter(col("doc_id") % 97 === 0)
        .select(concat(lit("big/"), col("doc_id")).as("path"),
          (col("n_chars") * 100L).as("bytes")))
    graft.operators.Layout.compactionPlan(manifest, "path", "bytes",
        targetBytes = 10000L, skipAtOrAbove = 5000L)
      .orderBy("path")
  }

  // ---------------------------------------------------------------- q175
  /** Cohen's kappa ([[graft.operators.Eval.cohenKappa]]) between the
    * gold `lang` labels and the q16/q168 langId heuristic — the
    * chance-corrected agreement number that tells an annotation
    * pipeline whether the cheap labeler beats the class balance, not
    * just matches it. Exact-integer numerator/denominator
    * (`(n·a − P) / (n² − P)` with P = Σ marginal products, carried as
    * DECIMAL(38,0)), one IEEE division, 6-decimal rounded on both
    * engines. */
  private def q175CohenKappa(s: SparkSession, dir: String): DataFrame = {
    val labeled = Tables.documents(s, dir)
      .select(col("lang"), TextFunctions.langId(col("text")).as("predicted"))
    graft.operators.Eval.cohenKappa(labeled, "lang", "predicted")
  }

  // ---------------------------------------------------------------- q176
  /** Training-shard manifest ([[graft.operators.Corpus
    * .shardManifest]]): q61's deterministic md5-permuted round-robin
    * shards rolled up to per-shard doc/token counts plus exclusive
    * GLOBAL token offsets — the resume table a training scheduler
    * reads. The oracle recomputes the permutation (its own md5 +
    * row_number), the shard deal, both rollups, and the offset window
    * — integer-exact end to end. */
  private def q176ShardManifest(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.shardManifest(
        Tables.documents(s, dir), "doc_id", "text", nShards = 8)
      .orderBy("shard")

  // ---------------------------------------------------------------- q177
  /** Join explosion audit ([[graft.operators.Skew
    * .joinExplosionAudit]]): the pre-flight diagnostic for the OTHER
    * way a 100 TB join dies — a many-to-many key whose per-key row
    * product multiplies out. Audits the accidental self-join of
    * documents on `lang` (5 values, so every language contributes
    * count² rows): per-key counts both sides, exact projected output
    * cardinality, share of total — integers and one IEEE division,
    * computed WITHOUT running the join being modeled. */
  private def q177JoinExplosion(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.operators.Skew.joinExplosionAudit(docs, docs, Seq("lang"), topN = 5)
      .orderBy(col("out_rows").desc, col("lang"))
  }

  // ---------------------------------------------------------------- q178
  /** Label-error screen ([[graft.operators.Classify
    * .labelErrorScreen]]) — confident-learning over planted label
    * noise: gold = (lang = 'en'), flipped for every doc_id ≡ 0 mod 23
    * (the noise), folds = doc_id % 2, and every doc scored by the NB
    * model trained on the OTHER fold (with the noisy labels — the
    * realistic setting). Confident disagreements (|log_odds6| >= 2,
    * rounded before both tests) are the re-annotation queue; the
    * oracle retrains both fold models in SQL — including the
    * unseen-token Laplace floors q112's same-corpus oracle never
    * needed — and replays every score and flag. */
  private def q178LabelErrors(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val gold = size(filter(toks, t => t === "fast")) >
      size(filter(toks, t => t === "slow"))
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"),
      (gold =!= (col("doc_id") % 23 === 0)).as("noisy_label"),
      (col("doc_id") % 2).cast("int").as("fold"))
    graft.operators.Classify.labelErrorScreen(docs, "doc_id", "text",
        "noisy_label", "fold", margin = 2.0)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q179
  /** Median/MAD robust outlier screen ([[Stats.robustOutlierFlags]]):
    * q147's IQR fence upgraded to the modified z-score (Iglewicz &
    * Hoaglin, k=3.5) — both center and spread are medians, so the
    * fences survive heavy contamination. Rolled up per event type
    * like q147: counts integer-exact, fences rounded at 6 on both
    * engines, flags decided against the rounded fences. */
  private def q179RobustOutliers(s: SparkSession, dir: String): DataFrame =
    Stats.robustOutlierFlags(
        Tables.events(s, dir).select(col("event_type"), col("value")),
        Seq("event_type"), "value", k = 3.5)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min(col("lo_fence")).as("lo_fence"),
        min(col("hi_fence")).as("hi_fence"),
        sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("event_type")

  // ---------------------------------------------------------------- q180
  /** Categorical PSI drift ([[Profile.categoricalDrift]]): the
    * order-priority MIX of orders before vs after the q128 time
    * split — numeric drift (q128/q169) and categorical drift share
    * the psiFromCounts arithmetic, so this is the same alarm pointed
    * at a label/source/format mix. Counts integer-exact; psi rounded
    * at 6. */
  private def q180CategoricalDrift(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val split = lit("1996-01-01").cast("timestamp_ntz")
    Profile.categoricalDrift(
        orders.filter(col("o_orderdate") < split),
        orders.filter(col("o_orderdate") >= split),
        "o_orderpriority")
      .select(col("category"), col("n_ref"), col("n_cur"),
        round(col("psi"), 6).as("psi6"))
      .orderBy("category")
  }

  // ---------------------------------------------------------------- q181
  /** Split-conformal anomaly gate ([[graft.operators.Eval
    * .conformalThreshold]]): per event type, the calibration half
    * (before the time split) yields the ⌈(n+1)·0.9⌉-th smallest value
    * as a distribution-free threshold, and the later half is flagged
    * against it — guaranteed <= 10% false-alarm rate on exchangeable
    * data, no z-score assumption. The threshold is an EXACT order
    * statistic (a stored double both engines reproduce bit-for-bit),
    * so the rollup — n_cal, k, threshold, n_test, n_flagged — is
    * hash-exact with no rounding anywhere. */
  private def q181Conformal(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val splitUs = 1705363200000000L // 2024-01-16T00:00Z, mid-span
    val cal = ev.filter(unix_micros(col("ts")) < splitUs)
    val test = ev.filter(unix_micros(col("ts")) >= splitUs)
    val thr = graft.operators.Eval.conformalThreshold(
      cal, Seq("event_type"), "value", alpha = 0.1)
    val flagged = test.join(thr, Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("value") > col("threshold"), 1L).otherwise(0L))
          .as("n_flagged"))
    thr.join(flagged, Seq("event_type"))
      .select(col("event_type"), col("n_cal"), col("k_rank"),
        col("threshold"), col("n_test"), col("n_flagged"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------- q182
  /** Multiclass NB language router ([[graft.operators.Classify
    * .trainMultinomialNB]]/[[graft.operators.Classify
    * .scoreMultinomialNB]]): train on even doc_ids with the gold
    * `lang` labels, score the held-out odd docs, and report the
    * one-vs-rest per-class confusion + F1 — the k-way upgrade of the
    * q112 binary gate. Scores round at 6 before the argmax, ties
    * break to the lexicographically smallest class; tp/fp/fn are
    * integers and each F1 is one rounded division, so the rollup is
    * hash-exact. The oracle retrains the model in SQL — the dense
    * (token x class) smoothed grid, priors, unseen floors — and
    * replays every score, argmax, and cell. */
  private def q182MulticlassNb(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Classify
    val docs = Tables.documents(s, dir)
    val train = docs.filter(col("doc_id") % 2 === 0)
    val test = docs.filter(col("doc_id") % 2 === 1)
    val model = Classify.trainMultinomialNB(train, "text", "lang")
    val pred = Classify.scoreMultinomialNB(test, "doc_id", "text", model)
      .join(test.select(col("doc_id"), col("lang").as("gold")), "doc_id")
    val cells = pred.groupBy("gold", "predicted").agg(count(lit(1)).as("n"))
    val byGold = cells.groupBy(col("gold").as("cls"))
      .agg(sum(col("n")).as("n_gold"),
        sum(when(col("predicted") === col("gold"), col("n"))
          .otherwise(lit(0L))).as("tp"))
    val byPred = cells.groupBy(col("predicted").as("cls"))
      .agg(sum(col("n")).as("n_pred"))
    byGold.join(byPred, Seq("cls"), "full_outer")
      .select(col("cls"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        (coalesce(col("n_pred"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fp"),
        (coalesce(col("n_gold"), lit(0L)) - coalesce(col("tp"), lit(0L)))
          .as("fn"))
      .withColumn("f16",
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
          round(lit(2.0) * col("tp") /
            (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"), 6)))
      .orderBy("cls")
  }

  // ---------------------------------------------------------------- q183
  /** Streaming categorical drift ([[graft.operators.Profile
    * .categoricalDriftMonitor]]): q180's order-priority mix with the
    * monitored slice arriving as a FILE STREAM — per-micro-batch
    * category counts fold into a versioned vocabulary-bounded state
    * table (counts merge by SUM, so the micro-batch split provably
    * cannot change the accumulated frequency table), final PSI via the
    * shared categoricalDriftFromCounts arithmetic. Held to q180's
    * VERBATIM oracle — the q128/q169 pattern at category granularity,
    * completing the drift matrix. */
  private def q183StreamCatDrift(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val split = lit("1996-01-01").cast("timestamp_ntz")
    graft.streaming.StreamGate.monitor(
        Profile.categoricalDriftMonitor(
          orders.filter(col("o_orderdate") < split), "o_orderpriority"),
        orders.filter(col("o_orderdate") >= split))
      .select(col("category"), col("n_ref"), col("n_cur"),
        round(col("psi"), 6).as("psi6"))
      .orderBy("category")
  }

  // ---------------------------------------------------------------- q184
  /** Retrieval evaluation, JOINED formulation ([[graft.operators.Eval
    * .topKAllQueriesJoined]] + [[graft.operators.Eval
    * .retrievalMetrics]]): exactly q125's experiment — exact cosine
    * top-10 ground truth vs a 16-dim-prefix ranking for every 50th
    * vector — but the query set stays a DATAFRAME end to end (zero
    * driver collect): corpus rows hash into blocks, queries replicate
    * across them, scoring meets on an equi-join and reduces through
    * the same bounded-heap aggregator. Held to q125's VERBATIM oracle
    * — the scale path must hash-match the plan-literal path. */
  private def q184RetrievalEvalJoined(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Eval
    val emb = Tables.embeddings(s, dir)
    val qdf = emb.filter(col("vec_id") % 50 === 0)
    val truth = Eval.topKAllQueriesJoined(emb, "vec_id", "embedding",
      qdf, "vec_id", "embedding", 10)
    val emb16 = emb.select(col("vec_id"),
      slice(col("embedding"), 1, 16).as("embedding"))
    val qdf16 = qdf.select(col("vec_id"),
      slice(col("embedding"), 1, 16).as("embedding"))
    val pred = Eval.topKAllQueriesJoined(emb16, "vec_id", "embedding",
      qdf16, "vec_id", "embedding", 10)
    Eval.retrievalMetrics(pred, truth, "query_id", "item_id", "rank", 10)
      .select(col("query_id"), col("n_truth"), col("n_hits"),
        round(col("recall"), 6).as("recall6"),
        round(col("mrr"), 6).as("mrr6"),
        round(col("ndcg"), 6).as("ndcg6"))
      .orderBy("query_id")
  }

  // ---------------------------------------------------------------- q185
  /** Shot-boundary detection ([[Multimodal.shotBoundaries]]): each
    * document builds a two-shot synthetic video — 4 repeats of its
    * first 72 payload bytes then 4 of the next 72 — so the 8 sampled
    * frames are shot-aligned (stride 72 = the chunk size): frames 0-3
    * are identical within shot A, 4-7 within shot B, and the only
    * candidate cut is at frame 4, found iff the chunks' dHashes
    * differ by more than the Hamming threshold (72-byte frames give
    * every 9x8 grid cell its own byte, so distinct text chunks differ
    * by ~30 bits where identical frames differ by 0). The oracle
    * rebuilds the payload in hex, recomputes every per-frame 72-cell
    * dHash (the q154 recipe), and replays the LAG/XOR/popcount rule —
    * integer-exact throughout. */
  private def q185ShotBoundaries(s: SparkSession, dir: String): DataFrame = {
    val bin = col("text").cast("binary")
    val chunkA = substring(bin, 1, 72)
    val chunkB = substring(bin, 73, 72)
    val media = Tables.documents(s, dir)
      .filter(col("text").isNotNull && octet_length(bin) >= 144)
      .select(col("doc_id").as("media_id"),
        concat((Seq.fill(4)(chunkA) ++ Seq.fill(4)(chunkB)): _*)
          .as("payload"))
    Multimodal.shotBoundaries(media, nFrames = 8, frameBytes = 72,
        maxHamming = 8)
      .select(col("media_id"), col("n_frames"), col("n_boundaries"),
        array_join(transform(col("boundary_frames"),
          i => i.cast("string")), ",").as("boundary_frames"))
      .orderBy("media_id")
  }

  // ---------------------------------------------------------------- q186
  /** Zipf rank-frequency fit ([[graft.operators.Corpus.zipfFit]]):
    * least-squares slope/intercept/r² of ln(freq) on ln(rank) over the
    * top-500 tokens — the corpus-composition diagnostic (natural text
    * sits near slope −1; template or synthetic text bends away). Rank
    * order is (freq desc, token) on both engines; regression sums
    * accumulate per-term-rounded DECIMALs so fold order cannot move
    * them, and the closed form rounds HALF_UP at 6 — hash-exact. */
  private def q186ZipfFit(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.zipfFit(
      Tables.documents(s, dir), "text", topN = 500)

  // ---------------------------------------------------------------- q187
  /** Quantile feature binning ([[graft.operators.Stats
    * .quantileBucketize]]): events.value into per-event-type quartile
    * buckets (exact interpolated cutpoints, rounded at 6 before the
    * strictly-below comparison so an interpolation ulp cannot move a
    * row), rolled up to per-(type, bucket) count and min/max. The
    * oracle recomputes the cutpoint array and replays the
    * 1 + Σ(value > cut) rule — near-equal bucket populations with
    * deterministic tie placement, which NTILE's arbitrary row-order
    * splitting cannot promise. */
  private def q187QuantileBuckets(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).filter(col("value").isNotNull)
    graft.operators.Stats.quantileBucketize(
        ev.select(col("event_type"), col("value")),
        Seq("event_type"), "value", buckets = 4, outCol = "bucket")
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n"),
        round(min(col("value")), 6).as("min6"),
        round(max(col("value")), 6).as("max6"))
      .orderBy("event_type", "bucket")
  }

  // ---------------------------------------------------------------- q188
  /** Temperature-scaled mixture weights ([[graft.operators.Corpus
    * .mixtureWeights]]): per-source token counts over documents at
    * τ = 0.7 — the multilingual data-recipe rebalance (tail sources
    * upsampled toward, head sources below, their natural share), with
    * the oversampling factor each source would effectively train at.
    * p^τ terms round at 12 and normalize through one DECIMAL sum, so
    * every reported number is a deterministic function of the exact
    * integer token counts; the oracle replays the identical
    * arithmetic. */
  private def q188MixtureWeights(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.mixtureWeights(
        Tables.documents(s, dir), "source", "text", temperature = 0.7)
      .orderBy("source")

  // ---------------------------------------------------------------- q189
  /** Hard-negative mining ([[graft.operators.Eval
    * .topKAllQueriesJoined]]): for every 25th embedding (the anchor
    * set, kept as a DATAFRAME end to end), the top-scoring neighbors
    * that are NOT near-duplicates (cosine < 0.99) — the contrastive
    * training recipe where the informative negative is the closest
    * non-copy. The blocked equi-join scores all pairs exactly, the
    * bounded heap keeps top-5 per anchor, and the near-dup filter +
    * re-rank run over the |anchors|·5 survivors. Scores round at 6
    * before the near-dup cut AND the final rank, so the oracle's
    * window replay is hash-exact. */
  private def q189HardNegatives(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Eval
    val emb = Tables.embeddings(s, dir)
    val anchors = emb.filter(col("vec_id") % 25 === 0)
    val top = Eval.topKAllQueriesJoined(emb, "vec_id", "embedding",
      anchors, "vec_id", "embedding", k = 5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("score6").desc, col("item_id"))
    top
      .withColumn("score6", round(col("score"), 6))
      .filter(col("score6") < 0.99) // drop near-copies: not informative
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= 3)
      .select(col("query_id").as("anchor_id"),
        col("item_id").as("negative_id"), col("neg_rank"), col("score6"))
      .orderBy("anchor_id", "neg_rank")
  }

  // ---------------------------------------------------------------- q190
  /** Incremental distinct-users rollup ([[graft.operators.Maintain
    * .distinctSummarize]]/`distinctMerge`/`distinctEstimate`): events
    * split at the q160 time boundary into two shards, each summarized
    * to one HLL sketch per event type, merged sketch-wise, and
    * estimated — the distinct-count maintenance the algebraic rollup
    * family cannot express (counts don't merge; register-exact
    * sketches do). The gate is the q18 recall-gate pattern: the
    * estimate must land within ±2% of the EXACT distinct count
    * (computed independently), so the oracle — which cannot replay
    * Spark's sketch — pins n, the exact count, and a literal-true
    * `est_ok`; a drifting estimate flips the flag and fails the
    * hash. */
  private def q190DistinctRollup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Maintain
    val ev = Tables.events(s, dir)
    val splitUs = 1705363200000000L // the q181 mid-span boundary
    val a = ev.filter(unix_micros(col("ts")) < splitUs)
    val b = ev.filter(unix_micros(col("ts")) >= splitUs)
    val merged = Maintain.distinctMerge(
      Maintain.distinctSummarize(a, Seq("event_type"), "user_id"),
      Maintain.distinctSummarize(b, Seq("event_type"), "user_id"),
      Seq("event_type"), "user_id")
    val est = Maintain.distinctEstimate(merged, "user_id")
    val exact = ev.groupBy("event_type")
      .agg(count_distinct(col("user_id")).as("n_exact"))
    est.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n"), col("n_exact"),
        (abs(col("user_id_distinct") - col("n_exact")).cast("double") <=
          lit(0.02) * col("n_exact").cast("double")).as("est_ok"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------- q191
  /** Streaming distinct-users rollup ([[graft.operators.Maintain
    * .distinctRollupMonitor]]): q190's HLL maintenance with the fact
    * feed as a file stream — per-micro-batch sketches fold into a
    * versioned binary-column parquet state; register-wise max is
    * associative, commutative, and idempotent, so the micro-batch
    * split provably cannot change the final registers and the stream
    * holds to q190's VERBATIM gate (estimate within ±2% of exact,
    * exact counts recomputed batch-side). Completes the maintenance
    * matrix: algebraic batch q131 / algebraic stream q133 / distinct
    * batch q190 / distinct stream. */
  private def q191StreamDistinctRollup(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val est = graft.streaming.StreamGate.monitor(
        Maintain.distinctRollupMonitor(Seq("event_type"), "user_id"),
        ev.select("event_id", "ts", "user_id", "event_type", "value"))
    val exact = ev.groupBy("event_type")
      .agg(count_distinct(col("user_id")).as("n_exact"))
    est.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n"), col("n_exact"),
        (abs(col("user_id_distinct") - col("n_exact")).cast("double") <=
          lit(0.02) * col("n_exact").cast("double")).as("est_ok"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------- q192
  /** Spearman rank correlation ([[graft.operators.Eval.spearmanRho]])
    * between two document-quality signals — character count vs
    * whitespace token count: the scorer-agreement number, ranks by
    * (score, id) so ties break identically on both engines, Σd²
    * through DECIMAL, one rounded division. The oracle replays both
    * rank assignments and the closed form. */
  private def q192SpearmanRho(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        col("n_chars").cast("double").as("score_a"),
        TextFunctions.tokenCount(col("text")).cast("double").as("score_b"))
    graft.operators.Eval.spearmanRho(docs, "doc_id", "score_a", "score_b")
  }

  // ---------------------------------------------------------------- q193
  /** Wilson pass-rate intervals ([[graft.operators.Quality
    * .passRateCI]]): per-source rate of documents passing a minimum
    * length gate, with the finite-sample interval the naive ±z·se
    * misstates at extreme rates — the per-slice QA report. All
    * arithmetic is a map-only closed form over exact group counts,
    * rounded at 6; the oracle replays it with the identical z·z
    * expression (never a 3.8416 literal, whose double differs in the
    * last ulp). */
  private def q193PassRateCI(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quality.passRateCI(
        Tables.documents(s, dir)
          .withColumn("pass", col("n_chars") >= 100),
        Seq("source"), "pass")
      .orderBy("source")

  // ---------------------------------------------------------------- q194
  /** Incremental connected components ([[graft.operators.Components
    * .incrementalComponents]]): q46's near-dup pair graph split into
    * an "already clustered" half and a "new batch" half by pair-id
    * parity; the old half labels via the full iterative CC, the new
    * half FOLDS IN through the contracted-graph formulation — old
    * components become their min-id representatives, only the
    * batch-bounded contracted graph iterates, one join remaps. Held
    * to q46's VERBATIM oracle: the incremental labels must equal the
    * full recompute's exactly, merges and chain extensions included. */
  private def q194IncrementalComponents(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Components
    // one detection run feeds both halves
    val pairs = Blocks.checkpoint(Dedup.minHashNearDupPairs(
        Tables.documents(s, dir), "doc_id", "text", shingleN = 3,
        numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b"))
    val old = pairs.filter((col("id_a") + col("id_b")) % 2 === 0)
    val fresh = pairs.filter((col("id_a") + col("id_b")) % 2 =!= 0)
    val prev = Components.connectedComponents(old, "id_a", "id_b")
    Components.incrementalComponents(prev, fresh, "id_a", "id_b")
      .select(col("node").as("doc_id"), col("comp"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q195
  /** Budget-capped temperature allocation ([[graft.operators.Corpus
    * .tokenBudgetAllocation]]): a 1.5×-corpus token budget split
    * across sources at τ = 0.7 with a 2-epoch repetition cap — exact
    * waterfilling, where the capped set is a provable prefix in
    * cap-to-weight order. Weights and caps are exact decimals, so
    * every prefix sum is fold-order-free and the oracle's window
    * replay reproduces the level, the capped prefix, and every
    * allocation to the same doubles. */
  private def q195BudgetAllocation(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val docs = Tables.documents(s, dir)
    val total = docs
      .agg(sum(coalesce(TextFunctions.tokenCount(col("text")), lit(0))))
      .head().getLong(0)
    graft.operators.Corpus.tokenBudgetAllocation(docs, "source", "text",
        budgetTokens = (1.5 * total).toLong, temperature = 0.7,
        maxEpochs = 2.0)
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q196
  /** Exact two-sample KS drift ([[graft.operators.Profile
    * .ksStatistic]]): the maximum empirical-CDF gap between event
    * values before and after the q181 time split — the binning-free
    * companion to the PSI monitors (no bucket choice to argue about;
    * sensitive to shift, spread, and shape alike). Cumulatives ride
    * the range-partitioned prefix-sum machinery, every ratio is an
    * integer division both engines compute identically, and the max
    * rounds at 6 — hash-exact. */
  private def q196KsDrift(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val splitUs = 1705363200000000L
    graft.operators.Profile.ksStatistic(
      ev.filter(unix_micros(col("ts")) < splitUs),
      ev.filter(unix_micros(col("ts")) >= splitUs), "value")
  }

  // ---------------------------------------------------------------- q197
  /** Layout pruning report ([[graft.operators.Layout.pruningReport]]):
    * `part` sliced into 100-row files under TWO write orders — the
    * natural key order and the q124 Morton curve on
    * (p_size, trunc(price)) — with three p_size range probes counted
    * against each file's min/max footer stats. The report is the
    * before/after argument for the z-order rewrite: under the linear
    * layout every file spans the whole p_size domain (100% scanned);
    * under the curve the probes prune. The oracle recomputes the
    * bounds/cells/interleave bit-exactly (q124's arithmetic), both
    * file assignments, every file's min/max, and every probe count. */
  private def q197PruningReport(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Layout
    val part = Tables.part(s, dir).select(col("p_partkey"), col("p_size"),
      col("p_retailprice").cast("long").as("price_l"))
    val probes = Seq((1.0, 5.0), (20.0, 25.0), (40.0, 50.0))
    val linear = Layout.pruningReport(part, Seq("p_partkey"), "p_size",
        rowsPerFile = 100, probes)
      .withColumn("layout", lit("linear"))
    val z = Layout.zOrder(part, "p_size", "price_l", numPartitions = 8)
    val zorder = Layout.pruningReport(z, Seq("__z", "p_partkey"), "p_size",
        rowsPerFile = 100, probes)
      .withColumn("layout", lit("zorder"))
    linear.unionByName(zorder)
      .select(col("layout"), col("probe_lo"), col("probe_hi"),
        col("n_files"), col("files_scanned"), col("rows_scanned"))
      .orderBy("layout", "probe_lo")
  }

  // ---------------------------------------------------------------- q198
  /** Streaming exact-KS drift ([[graft.operators.Profile
    * .ksDriftMonitor]]): q196's statistic with the monitored slice
    * arriving as a file stream — per-micro-batch distinct-value
    * counts fold by SUM into versioned parquet state (the accumulated
    * empirical CDF is provably split-invariant), final gap via the
    * SHARED ksFromCounts arithmetic. Held to q196's VERBATIM oracle —
    * extends the drift matrix to KS: PSI batch/stream (q128/q169),
    * categorical batch/stream (q180/q183), KS batch/stream
    * (q196/this). */
  private def q198StreamKsDrift(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val splitUs = 1705363200000000L
    graft.streaming.StreamGate.monitor(
        Profile.ksDriftMonitor(ev.filter(unix_micros(col("ts")) < splitUs),
          "value"),
        ev.filter(unix_micros(col("ts")) >= splitUs))
  }

  // ---------------------------------------------------------------- q199
  /** A/B experiment readout ([[graft.operators.Experiment
    * .assignArms]] + [[graft.operators.Experiment.abReport]]): users
    * hash deterministically into control/treat_a/treat_b
    * (50/25/25, salted, md5-portable — reruns and engines can never
    * reshuffle arms), outcome = did the user ever purchase, readout =
    * per-arm conversion with Wilson intervals and the pooled
    * two-proportion z against control. The oracle replays the hash,
    * the exact integer cut points, and every interval and z — a null
    * experiment by construction, so z hovers near 0 and
    * `significant` stays false unless the assignment itself is
    * broken. */
  private def q199AbExperiment(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Experiment
    // outcome: a HEAVY purchaser (>= 14 purchase events) — roughly the
    // per-user median, so rates sit mid-range and the z test has
    // variance to work with (every user has >= 1 purchase, which would
    // make has-any-purchase a vacuous all-ones outcome)
    val users = Tables.events(s, dir).groupBy("user_id")
      .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        >= 14L).as("converted"))
    val assigned = Experiment.assignArms(users, "user_id", salt = "exp1",
      arms = Seq(("control", 0.5), ("treat_a", 0.25), ("treat_b", 0.25)))
    Experiment.abReport(assigned, "arm", "converted", controlArm = "control")
      .orderBy("arm")
  }

  // ---------------------------------------------------------------- q200
  /** Dedup-savings threshold sweep ([[Dedup.savingsByThreshold]]):
    * the q46 pair graph re-clustered at Jaccard 0.5 / 0.96 / 0.98 off
    * ONE detection pass — per threshold, how many docs sit in
    * duplicate clusters and how many a min-id retention would remove.
    * The report that picks the dedup knob before a 100 TB run commits
    * to it. The oracle recomputes the exact n² pair graph and a full
    * recursive-CTE clustering at EVERY threshold, so both the pair
    * recall and each re-clustering are value-checked. */
  private def q200SavingsSweep(s: SparkSession, dir: String): DataFrame =
    Dedup.savingsByThreshold(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16,
        thresholds = Seq(0.5, 0.96, 0.98))
      .orderBy("threshold")

  // ---------------------------------------------------------------- q201
  /** Embedding health report ([[graft.operators.Similarity
    * .embeddingHealthReport]]): norms, zero-vector count, and the
    * anisotropy proxy (mean cosine to the table centroid — the
    * representation-collapse signature) over the embeddings table.
    * Centroid sums, norm sums, and the cosine mean all accumulate as
    * rounded DECIMALs, so the report is partitioning-independent and
    * the oracle replays every number: per-dim centroid, each norm,
    * each cosine, and the three means. */
  private def q201EmbeddingHealth(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.embeddingHealthReport(
      Tables.embeddings(s, dir), "vec_id", "embedding")

  // ---------------------------------------------------------------- q202
  /** Per-group rank normalization ([[graft.operators.Stats
    * .rankNormalize]]): document lengths to within-language
    * percentile ranks — the cross-group-comparable rescaling a global
    * selection policy needs — rolled up per language: count, the SUM
    * of the percentiles in exact integer micros (mid-rank percentiles
    * of a full group always sum to exactly n/2, so
    * `sum_pct_micros = 500000·n` is a built-in self-check — and the
    * exact integer sidesteps the mean's 0.5000005-style rounding tie,
    * where Spark's string-based and DuckDB's binary-based ROUND
    * legitimately disagree), and min/max. Ranks tie-break on doc_id,
    * making every percentile engine-exact. */
  private def q202RankNormalize(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "lang", "n_chars")
    graft.operators.Stats.rankNormalize(docs, Seq("lang"), "n_chars",
        "doc_id", "pct")
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(round(col("pct") * lit(1000000.0)).cast("long"))
          .as("sum_pct_micros"),
        min(col("pct")).as("min_pct"), max(col("pct")).as("max_pct"))
      .orderBy("lang")
  }

  // ---------------------------------------------------------------- q203
  /** Schema-evolution compatibility check ([[graft.types.SchemaOps
    * .compatibility]]): can files written under last year's schema
    * (a real projection of the lineitem parquet — BIGINT keys, an
    * INT linenumber, DOUBLE quantities, a VARCHAR flag, an extra
    * discount column) feed a reader contract that widens the
    * linenumber, requires a column the writer lacks, asks for an
    * incompatible narrow read, and declares an optional column the
    * writer never had? One verdict row per column, decided by the
    * SAME numeric lattice `concat` unions under. Pure driver-side
    * metadata; the oracle is the expected verdict table, so any
    * lattice or rule drift flips a row. */
  private def q203SchemaCompat(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val writer = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
        "l_discount")
      .schema
    val reader = StructType(Seq(
      StructField("l_orderkey", LongType, nullable = true),     // ok
      StructField("l_linenumber", LongType, nullable = true),   // int widens
      StructField("l_quantity", IntegerType, nullable = true),  // NARROWING
      StructField("l_returnflag", BooleanType, nullable = true), // type clash
      StructField("l_comment", StringType, nullable = true),    // null-fill
      StructField("l_shipmode", StringType, nullable = false))) // required
    val rows = graft.types.SchemaOps.compatibility(reader, writer)
      .map(v => (v.column, v.readerType, v.writerType, v.verdict))
    import s.implicits._
    rows.toDF("column", "reader_type", "writer_type", "verdict")
      .orderBy("column")
  }

  // ---------------------------------------------------------------- q204
  /** Tokenizer fertility by language ([[graft.operators.Corpus
    * .bpeMerges]] driver tier + [[graft.operators.Corpus.bpeEncode]]):
    * train the 8-merge table on the corpus, encode every document
    * through the constant-plan ReplaceChain, and report per language
    * the numbers a tokenizer review reads — subword tokens per word
    * and characters per subword token (fertility: a language the
    * vocabulary underserves fragments into many short tokens, which
    * is exactly the multilingual-vocab sizing argument). The oracle
    * replays the full training recurrence (the q103 unrolled CTE),
    * re-derives every word's final segmentation, and recomputes every
    * count and ratio. */
  private def q204TokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    import graft.functions.TextFunctions
    val docs = Tables.documents(s, dir)
    val merges = Corpus.collectMerges(Corpus.bpeMerges(docs, "text", 8))
    val words = filter(TextFunctions.tokens(col("text")),
      w => length(w) > 0)
    Corpus.bpeEncode(docs, "text", merges)
      .select(col("lang"),
        size(words).cast("long").as("__nw"),
        size(col("bpe_tokens")).cast("long").as("__nb"),
        aggregate(words, lit(0L), (acc, w) => acc + length(w).cast("long"))
          .as("__nc"))
      .groupBy("lang")
      .agg(sum(col("__nw")).as("n_words"),
        sum(col("__nb")).as("n_bpe_tokens"),
        sum(col("__nc")).as("n_chars"),
        round(sum(col("__nb")).cast("double") / sum(col("__nw")), 6)
          .as("tokens_per_word6"),
        round(sum(col("__nc")).cast("double") / sum(col("__nb")), 6)
          .as("chars_per_token6"))
      .orderBy("lang")
  }

  // ---------------------------------------------------------------- q205
  /** Streaming experiment monitor ([[graft.operators.Experiment
    * .abMonitor]]): q199's experiment with the per-user
    * outcomes arriving as a file stream — per-arm counts fold by SUM
    * into versioned state and the final readout runs the SHARED
    * Wilson + pooled-z arithmetic, so the live dashboard provably
    * equals the batch readout. Held to q199's VERBATIM oracle —
    * closes experimentation batch/stream, alongside the maintenance
    * and drift matrices. */
  private def q205StreamAbMonitor(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Experiment
    val users = Tables.events(s, dir).groupBy("user_id")
      .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        >= 14L).as("converted"))
    val assigned = Experiment.assignArms(users, "user_id", salt = "exp1",
      arms = Seq(("control", 0.5), ("treat_a", 0.25), ("treat_b", 0.25)))
    graft.streaming.StreamGate.monitor(
        Experiment.abMonitor("arm", "converted", controlArm = "control"),
        assigned)
      .orderBy("arm")
  }

  // ---------------------------------------------------------------- q206
  /** Streaming incremental components ([[graft.streaming.StreamGate
    * .replayIncrementalComponents]]): the q46 near-dup pair graph
    * arriving as an EDGE stream, folded label-table-to-label-table
    * through the contracted-graph formulation — each micro-batch
    * iterates only its own contracted graph, never the accumulated
    * history, and the fold theorem makes the final labels equal the
    * full recompute whatever the split. Held to q46's VERBATIM
    * oracle; completes incremental clustering batch (q194) / stream
    * (this). */
  private def q206StreamComponents(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minHashNearDupPairs(Tables.documents(s, dir),
      "doc_id", "text", shingleN = 3, numHashes = 64, bands = 16,
      threshold = 0.5)
    graft.streaming.StreamGate.replayIncrementalComponents(
        pairs, "id_a", "id_b")
      .select(col("node").as("doc_id"), col("comp"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q207
  /** Deterministic stratified exact-k sampling ([[graft.operators
    * .Experiment.stratifiedSample]]): the 10 smallest-hash docs per
    * language — selection a pure function of (salt, doc_id) through
    * the portable md5 hash, so the oracle replays the identical rank
    * in SQL. ONE bounded-heap pass per stratum; the rank window runs
    * over the ≤ strata×k survivors only. */
  private def q207StratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Experiment.stratifiedSample(
        Tables.documents(s, dir), Seq("lang"), "doc_id", k = 10,
        salt = "eval1")
      .orderBy("lang", "doc_id")

  // ---------------------------------------------------------------- q208
  /** PII-pattern scan ([[graft.operators.Quality.piiScan]]): per-doc
    * non-overlapping match counts of email/URL/IPv4/phone patterns.
    * The corpus text is synthetic tokens, so each doc is seeded with a
    * deterministic PII tail by doc_id class — the SAME seeding runs in
    * the oracle, and both engines then count with the identical
    * RE2-subset regexes (codegen'd `regexp_count`, no UDF). */
  private def q208PiiScan(s: SparkSession, dir: String): DataFrame = {
    val tail = when(pmod(col("doc_id"), lit(4)) === 0,
        lit(" reach user0@example.com or admin@data.org"))
      .when(pmod(col("doc_id"), lit(4)) === 1,
        lit(" see https://example.com/a_b and http://x.io/p"))
      .when(pmod(col("doc_id"), lit(4)) === 2,
        lit(" host 10.0.0.1 peer 192.168.1.255"))
      .otherwise(lit(" call 555-123-4567"))
    val seeded = Tables.documents(s, dir)
      .select(col("doc_id"), concat(col("text"), tail).as("text"))
    graft.operators.Quality.piiScan(seeded, "doc_id", "text")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q209
  /** Sequence-length budget frontier ([[graft.operators.Corpus
    * .seqLenFrontier]]): the truncation-vs-padding sweep over four
    * candidate budgets in ONE corpus pass (budgets expand map-side
    * from a literal array) — pure integer arithmetic end to end, so
    * the oracle is a cross-joined CASE rollup. */
  private def q209SeqLenFrontier(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.seqLenFrontier(
      Tables.documents(s, dir), "text", Seq(64, 128, 256, 512))

  // ---------------------------------------------------------------- q210
  /** k-core decomposition ([[graft.operators.Graph.kCore]]) of the
    * q46 near-dup pair graph at k=2: peel degree-<2 nodes to fixpoint,
    * report survivors with their in-core degree — the
    * structurally-entangled duplicate families (incidental pairwise
    * matches peel away; mutually-similar triples and larger survive).
    * Peeling is confluent, so the oracle's unrolled batch peel over
    * the exact-Jaccard edge set lands on the identical core. */
  private def q210KCore(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minHashNearDupPairs(Tables.documents(s, dir),
      "doc_id", "text", shingleN = 3, numHashes = 64, bands = 16,
      threshold = 0.5)
    graft.operators.Graph.kCore(pairs, "id_a", "id_b", k = 2)
      .select(col("node").as("doc_id"), col("core_degree"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q211
  /** Streaming shot-boundary detection ([[graft.streaming.StreamGate
    * .replayShotBoundaries]]): q185's two-shot synthetic videos
    * arriving as a file stream, each micro-batch pushed through the
    * batch operator verbatim — cut detection is per-media-row
    * independent, so the split provably cannot change any verdict and
    * the replay is held to q185's VERBATIM oracle (the
    * two-formulations-one-ground-truth pattern). */
  private def q211StreamShotBoundaries(s: SparkSession, dir: String): DataFrame = {
    val bin = col("text").cast("binary")
    val chunkA = substring(bin, 1, 72)
    val chunkB = substring(bin, 73, 72)
    val media = Tables.documents(s, dir)
      .filter(col("text").isNotNull && octet_length(bin) >= 144)
      .select(col("doc_id").as("media_id"),
        concat((Seq.fill(4)(chunkA) ++ Seq.fill(4)(chunkB)): _*)
          .as("payload"))
    graft.streaming.StreamGate.replayShotBoundaries(media,
        nFrames = 8, frameBytes = 72, maxHamming = 8)
      .orderBy("media_id")
  }

  // ---------------------------------------------------------------- q212
  /** Deterministic weighted source interleave ([[graft.operators
    * .Corpus.interleaveBySource]]): the 20 sources stride-scheduled
    * with weights 1..20 (src0 lightest, src19 heaviest) — the operator
    * that turns a mixture recipe into an actual training ORDER. The
    * position is a pure function of (weights, source, id): the oracle
    * replays the identical `rank / weight` virtual-finish-time doubles
    * and the identical (key, source, id) tie order in SQL windows. */
  private def q212SourceInterleave(s: SparkSession, dir: String): DataFrame = {
    val weights = (0 until 20).map(i => (s"src$i", (i + 1).toDouble))
    graft.operators.Corpus.interleaveBySource(
        Tables.documents(s, dir).select("doc_id", "source"),
        "source", "doc_id", weights)
      .select(col("doc_id"), col("source"), col("train_pos"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q213
  /** Order-independent table fingerprint ([[graft.operators.Quality
    * .tableFingerprint]]): the cross-engine checksum validating a copy
    * without a sort — row md5-hash sum as DECIMAL(38,0) over the
    * portable-cast columns of `orders`, shown next to the fingerprint
    * of the SAME table with one value perturbed (the detection the
    * operator exists for). The oracle replays the identical canonical
    * string, 64-bit hash, and commutative sum. */
  private def q213TableFingerprint(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quality
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority")
    val orders = Tables.orders(s, dir).select(cols.map(col): _*)
    val perturbed = orders.withColumn("o_orderstatus",
      when(col("o_orderkey") === 7L, lit("X"))
        .otherwise(col("o_orderstatus")))
    Quality.tableFingerprint(orders, cols)
      .withColumn("variant", lit("original"))
      .unionByName(Quality.tableFingerprint(perturbed, cols)
        .withColumn("variant", lit("perturbed")))
      // as STRING for the gate: a DECIMAL(38,0) survives parquet exactly
      // but DuckDB->pandas narrows it to float64, faking a mismatch
      .select(col("variant"), col("n_rows"),
        col("fingerprint").cast("string").as("fingerprint"))
      .orderBy("variant")
  }

  // ---------------------------------------------------------------- q214
  /** Streaming PII monitor ([[graft.streaming.StreamGate
    * .replayPiiMonitor]]): q208's seeded documents as a file stream,
    * each micro-batch through the batch scanner and reduced to one
    * summary row; the readout SUMS per-batch rows — split-invariant by
    * commutativity, held to the batch scan's aggregated oracle. */
  private def q214StreamPiiMonitor(s: SparkSession, dir: String): DataFrame = {
    val tail = when(pmod(col("doc_id"), lit(4)) === 0,
        lit(" reach user0@example.com or admin@data.org"))
      .when(pmod(col("doc_id"), lit(4)) === 1,
        lit(" see https://example.com/a_b and http://x.io/p"))
      .when(pmod(col("doc_id"), lit(4)) === 2,
        lit(" host 10.0.0.1 peer 192.168.1.255"))
      .otherwise(lit(" call 555-123-4567"))
    val seeded = Tables.documents(s, dir)
      .select(col("doc_id"), concat(col("text"), tail).as("text"))
    graft.streaming.StreamGate.replayPiiMonitor(seeded, "doc_id", "text")
  }

  // ---------------------------------------------------------------- q215
  /** Functional-dependency audit ([[graft.operators.Quality
    * .functionalDependencyAudit]]): a dependency that HOLDS
    * (doc_id → lang — unique lhs) next to one that FAILS
    * (lang → source — every language spans many sources), because the
    * two readings a user needs are "clean" and "how broken". One
    * two-level aggregation per audit, no join, no window. */
  private def q215FdAudit(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quality
    val docs = Tables.documents(s, dir)
    Quality.functionalDependencyAudit(docs, Seq("doc_id"), Seq("lang"))
      .withColumn("dependency", lit("doc_id->lang"))
      .unionByName(
        Quality.functionalDependencyAudit(docs, Seq("lang"), Seq("source"))
          .withColumn("dependency", lit("lang->source")))
      .select(col("dependency"), col("n_groups"), col("n_violating_groups"),
        col("n_violating_rows"), col("max_rhs_variants"))
      .orderBy("dependency")
  }

  // ---------------------------------------------------------------- q216
  /** Incremental fingerprint maintenance ([[graft.operators.Quality
    * .tableFingerprintDelta]]): after a one-row UPDATE (old version
    * deleted, new version inserted), the stored fingerprint advances
    * by ONE pass over the delta — and must land exactly on the full
    * recompute of the updated table. Both paths are emitted and
    * compared; the oracle replays the same hash sums and the same
    * add/subtract fold. The 100 TB point: integrity checking joins
    * the algebraic-merge family — history never rescanned. */
  private def q216FingerprintDelta(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quality
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority")
    val orders = Tables.orders(s, dir).select(cols.map(col): _*)
    val oldRow = orders.filter(col("o_orderkey") === 7L)
    val newRow = oldRow.withColumn("o_orderstatus", lit("X"))
    val newTable = orders.withColumn("o_orderstatus",
      when(col("o_orderkey") === 7L, lit("X"))
        .otherwise(col("o_orderstatus")))
    val parts = Quality.tableFingerprint(orders, cols)
      .select(lit("base").as("part"), col("fingerprint").as("v"))
      .unionByName(Quality.tableFingerprintDelta(newRow, oldRow, cols)
        .select(lit("delta").as("part"), col("delta").as("v")))
      .unionByName(Quality.tableFingerprint(newTable, cols)
        .select(lit("recomputed").as("part"), col("fingerprint").as("v")))
    parts.agg(
        sum(when(col("part").isin("base", "delta"), col("v")))
          .cast("decimal(38,0)").cast("string").as("incremental_fp"),
        sum(when(col("part") === "recomputed", col("v")))
          .cast("decimal(38,0)").cast("string").as("recomputed_fp"))
      .withColumn("consistent",
        col("incremental_fp") === col("recomputed_fp"))
  }

  // ---------------------------------------------------------------- q217
  /** Deterministic Poisson-bootstrap CI ([[graft.operators.Stats
    * .bootstrapMeanCI]]): the at-scale bootstrap — each row enters
    * replicate b with weight ~ Poisson(1) decided by INTEGER cutoffs
    * on the portable hash of (salt, b, id), so the whole resampling
    * distribution is a pure engine-stable function of the inputs and
    * the oracle replays every weight, every replicate mean, and the
    * interpolated percentile pair exactly. */
  private def q217BootstrapCI(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.bootstrapMeanCI(
      Tables.events(s, dir), "value", "event_id",
      nBoot = 100, alpha = 0.05, salt = "boot1")

  // ---------------------------------------------------------------- q218
  /** Benjamini–Hochberg FDR control ([[graft.operators.Eval
    * .benjaminiHochberg]]): 500 hypotheses with hash-uniform p-values
    * and a planted signal block (every 25th p divided by 1000) at
    * FDR level 0.1 — the step-up rule must reject (essentially) the
    * planted block and almost nothing else. Every p is a pure
    * engine-stable double (integer hash / 2^32, then one division),
    * so ranks, thresholds, and the reject set replay exactly. */
  private def q218BhFdr(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val h = TextFunctions.portableTokenHash32(
      concat(lit("bh:"), col("doc_id").cast("string")))
    val u = h.cast("double") / lit(4294967296.0)
    val p = when(pmod(col("doc_id"), lit(25)) === 0, u / lit(1000.0))
      .otherwise(u)
    val hyp = Tables.documents(s, dir).select(col("doc_id"))
      .withColumn("p", p)
    graft.operators.Eval.benjaminiHochberg(hyp, "doc_id", "p", q = 0.1)
      .orderBy("p_rank")
  }

  // ---------------------------------------------------------------- q219
  /** Streaming fingerprint monitor ([[graft.streaming.StreamGate
    * .replayFingerprintMonitor]]): the orders feed micro-batched, each
    * batch's (count, hash-sum) row appended, readout = the SUM — the
    * q216 delta algebra, so the streamed fingerprint provably equals
    * the batch fingerprint of the whole feed. Held to the batch
    * computation's oracle; closes the fingerprint matrix batch (q213)
    * / incremental (q216) / stream (this). */
  private def q219StreamFingerprint(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority")
    graft.streaming.StreamGate.replayFingerprintMonitor(
        Tables.orders(s, dir).select(cols.map(col): _*), cols)
      .select(col("n_rows"),
        col("fingerprint").cast("string").as("fingerprint"))
  }

  // ---------------------------------------------------------------- q220
  /** Per-group deterministic Poisson-bootstrap CI ([[graft.operators
    * .Stats.bootstrapMeanCIByGroup]]): one mean CI per event type —
    * the continuous-outcome twin of q199's per-arm Wilson readout.
    * The oracle replays every weight, every per-group replicate mean,
    * and each group's interpolated percentile pair exactly (the q217
    * CTE, GROUP BY event type). */
  private def q220BootstrapCIByGroup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.bootstrapMeanCIByGroup(
      Tables.events(s, dir), "event_type", "value", "event_id",
      nBoot = 100, alpha = 0.05, salt = "boot2")

  /** The probability sweep shared by the q221/q222/q223 quantile
    * maintenance matrix. */
  private val quantilePs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)

  // ---------------------------------------------------------------- q221
  /** Exact discrete quantiles ([[graft.operators.Profile
    * .exactQuantiles]]): the batch corner of the quantile maintenance
    * matrix — each p's answer is the input double covering rank
    * ⌈p·n⌉ VERBATIM (no interpolation arithmetic to disagree on);
    * the oracle replays the rank rule over the same value grid. */
  private def q221ExactQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.exactQuantiles(
      Tables.events(s, dir), "value", quantilePs)

  // ---------------------------------------------------------------- q222
  /** Incremental quantile maintenance ([[graft.operators.Profile
    * .foldValueCounts]] + [[graft.operators.Profile
    * .exactQuantilesFromCounts]]): the value-count ECDF state built
    * from the pre-split events, kept current by folding the
    * post-split shard's counts — the base fact rows are never
    * rescanned, and because counts merge by SUM the folded readout is
    * held to q221's VERBATIM full-recompute oracle (the q131/q133
    * pattern). */
  private def q222IncrementalQuantiles(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Profile
    val ev = Tables.events(s, dir)
    val base = Profile.ksSideCounts(
      ev.filter(col("event_id") % 10 < 8), "value", "cnt")
    val delta = Profile.ksSideCounts(
      ev.filter(col("event_id") % 10 >= 8), "value", "cnt")
    Profile.exactQuantilesFromCounts(
      Profile.foldValueCounts(base, delta), quantilePs)
  }

  // ---------------------------------------------------------------- q223
  /** Streaming quantile monitor ([[graft.operators.Profile
    * .quantileMonitor]]): the events value feed micro-batched,
    * each batch's distinct-value counts folded by SUM into versioned
    * parquet ECDF state, readout = the SHARED discrete-rank
    * arithmetic — held to q221's verbatim oracle, closing the
    * quantile matrix batch/incremental/stream. */
  private def q223StreamQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.monitor(
        Profile.quantileMonitor("value", quantilePs),
        Tables.events(s, dir))

  // ---------------------------------------------------------------- q224
  /** Streaming SCD-2 enrichment ([[graft.streaming.StreamGate
    * .replayScdEnrichment]]): q116's order facts arriving as a file
    * stream, each micro-batch point-in-time joined against the SAME
    * static two-version customer dimension by the batch operator
    * verbatim — enrichment is per-fact-row independent, so the replay
    * is held to q116's verbatim oracle (the q113/q211 argument). */
  private def q224StreamScdEnrichment(s: SparkSession, dir: String): DataFrame = {
    val facts = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    graft.streaming.StreamGate.replayScdEnrichment(
        facts, "o_custkey", "o_orderdate",
        scdCustomerDim(s, dir), "key", "valid_from", "valid_to")
      .select(col("o_orderkey"), col("o_custkey"), col("segment"))
      .orderBy("o_orderkey")
  }

  // ---------------------------------------------------------------- q225
  /** Streaming bootstrap-CI monitor ([[graft.operators.Stats
    * .bootstrapMonitor]]): q217's outcome feed micro-batched,
    * each batch's per-replicate (Σ, count) partials folded by exact
    * decimal SUM into versioned state, readout = the SHARED
    * percentile arithmetic — held to q217's verbatim oracle, closing
    * the CI matrix whole-corpus (q217) / per-group (q220) / stream
    * (this). */
  private def q225StreamBootstrapCI(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.monitor(
        Stats.bootstrapMonitor("value", "event_id", nBoot = 100, alpha = 0.05,
          salt = "boot1"),
        Tables.events(s, dir))

  // ---------------------------------------------------------------- q226
  /** Categorical association audit ([[graft.operators.Profile
    * .categoricalAssociation]]): is event type independent of the
    * user-id bucket? Chi-square over the FULL 5×7 grid (structural
    * zeros included), Cramér's V, and mutual information — counts
    * integer-exact, expected masses single IEEE expressions, per-cell
    * terms 12dp-rounded decimal sums (the zipfFit discipline), the
    * readout on the 6dp gate. */
  private def q226CategoricalAssociation(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.categoricalAssociation(
      Tables.events(s, dir).select(col("event_type"),
        (col("user_id") % 7).cast("string").as("user_bucket")),
      "event_type", "user_bucket")

  // ---------------------------------------------------------------- q227
  /** Token-mass sequence-length quantiles ([[graft.operators.Profile
    * .weightedExactQuantiles]]): each document's token count weighted
    * by ITSELF, so q(0.9) answers "the length below which 90% of the
    * corpus's TOKENS sit" — the number that prices a max_seq_len
    * choice (q209's frontier priced the sweep; this reads the knee's
    * percentile directly). The oracle replays the weighted rank rule
    * over the same length grid. */
  private def q227TokenMassQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.weightedExactQuantiles(
      Tables.documents(s, dir).select(
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long").as("n_tokens")),
      "n_tokens", "n_tokens", quantilePs)

  // ---------------------------------------------------------------- q228
  /** Per-group exact quantiles ([[graft.operators.Profile
    * .exactQuantilesByGroup]]): per-event-type value percentiles off
    * one global range-partitioned prefix sum (no group window over
    * the row-sized value grid — a skewed group cannot single-task
    * it); rank targets computed in the plan, answers verbatim input
    * doubles. The oracle replays the per-group weighted rank rule. */
  private def q228QuantilesByGroup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.exactQuantilesByGroup(
      Tables.events(s, dir), "event_type", "value", quantilePs)

  // ---------------------------------------------------------------- q229
  /** Fellegi–Sunter record linkage ([[graft.operators.Linkage
    * .fellegiSunterScores]]): the customer table linked against a
    * derived twin (ids offset, every 5th segment perturbed) through a
    * modulus blocking key — each candidate pair scores the classic
    * log-likelihood ratio over (segment, nation, name) m/u weights,
    * and `is_match` thresholds the ROUNDED score. The oracle replays
    * the blocking join, every agreement, and the identical
    * ln((1−m)/(1−u)) weight arithmetic. True pairs clear the
    * threshold even with a perturbed segment (name+nation carry
    * them); the best random pair cannot reach it. */
  private def q229FellegiSunter(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Linkage
    val (leftR, rightR, cands) = fsLinkageFixture(s, dir)
    Linkage.fellegiSunterScores(cands, "id_a", "id_b",
        leftR, "cid", rightR, "cid",
        Seq(Linkage.FsField("c_mktsegment", 0.9, 0.2),
          Linkage.FsField("c_nationkey", 0.95, 0.04),
          Linkage.FsField("c_name", 0.99, 0.001)),
        matchThreshold = 5.0)
      .orderBy("id_a", "id_b")
  }

  /** The linkage fixture shared by q229/q231: the customer table, a
    * derived twin (ids offset by 5e6, every 5th segment perturbed),
    * and modulus-block candidate pairs. */
  private def fsLinkageFixture(
      s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val cust = Tables.customer(s, dir)
    val leftR = cust.select(col("c_custkey").as("cid"),
      col("c_mktsegment"), col("c_nationkey"), col("c_name"))
    val rightR = cust.select((col("c_custkey") + 5000000L).as("cid"),
      when(col("c_custkey") % 5 === 0, lit("XX"))
        .otherwise(col("c_mktsegment")).as("c_mktsegment"),
      col("c_nationkey"), col("c_name"))
    val cands = leftR.select(col("cid").as("id_a"),
        (col("cid") % 200).as("__blk"))
      .join(rightR.select(col("cid").as("id_b"),
        ((col("cid") - 5000000L) % 200).as("__blk")), Seq("__blk"))
      .select("id_a", "id_b")
    (leftR, rightR, cands)
  }

  // ---------------------------------------------------------------- q231
  /** Blocking-quality report ([[graft.operators.Linkage
    * .blockingReport]]): q229's modulus blocking judged on the known
    * truth (each customer ↔ its offset twin) — reduction ratio over
    * the quadratic space plus pairs completeness; the modulus block
    * always co-locates the twin, so completeness must be exactly 1.
    * The oracle replays both distinct counts, the truth join, and
    * the two divisions. */
  private def q231BlockingReport(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val nc = cust.count()
    val (_, _, cands) = fsLinkageFixture(s, dir)
    val truth = cust.select(col("c_custkey").as("id_a"),
      (col("c_custkey") + 5000000L).as("id_b"))
    graft.operators.Linkage.blockingReport(cands, truth, nc, nc)
  }

  // ---------------------------------------------------------------- q230
  /** Exact Gini concentration ([[graft.operators.Stats.giniIndex]])
    * of token mass across documents — the "is the corpus secretly a
    * few giants?" audit; rank sums per-term-exact DECIMAL over the
    * range-partitioned (mass, id) order, one division on the 6dp
    * gate. */
  private def q230GiniTokenMass(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.giniIndex(
      Tables.documents(s, dir).select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long").as("n_tokens")),
      "n_tokens", "doc_id")

  // ---------------------------------------------------------------- q232
  /** Streaming association monitor ([[graft.operators.Profile
    * .associationMonitor]]): q226's (event type, user bucket)
    * feed micro-batched, joint counts folded by SUM into versioned
    * contingency state, readout = the shared chi-square/V/MI
    * arithmetic — held to q226's verbatim oracle. */
  private def q232StreamAssociation(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.monitor(
        Profile.associationMonitor("event_type", "user_bucket"),
        Tables.events(s, dir).select(col("event_type"),
          (col("user_id") % 7).cast("string").as("user_bucket")))

  // ---------------------------------------------------------------- q233
  /** End-to-end entity resolution ([[graft.operators.Linkage
    * .resolveEntities]]): q229's accepted FS matches become edges,
    * transitive closure labels entities (min reachable id), and every
    * unmatched record is its own singleton — the full
    * block→score→threshold→cluster pipeline in one query. The oracle
    * replays the FS scoring CTE, the recursive reachability, and the
    * singleton fill. */
  private def q233EntityResolution(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Linkage
    val (leftR, rightR, cands) = fsLinkageFixture(s, dir)
    val matches = Linkage.fellegiSunterScores(cands, "id_a", "id_b",
        leftR, "cid", rightR, "cid",
        Seq(Linkage.FsField("c_mktsegment", 0.9, 0.2),
          Linkage.FsField("c_nationkey", 0.95, 0.04),
          Linkage.FsField("c_name", 0.99, 0.001)),
        matchThreshold = 5.0)
      .filter(col("is_match"))
    val records = leftR.select(col("cid"))
      .unionByName(rightR.select(col("cid")))
    Linkage.resolveEntities(records, "cid", matches)
      .orderBy("record_id")
  }

  // ---------------------------------------------------------------- q234
  /** Per-source Gini concentration ([[graft.operators.Stats
    * .giniIndexByGroup]]): token-mass concentration WITHIN each
    * source — the drill-down under q230's corpus-wide number; ranks
    * ride the range-partitioned per-group id machinery, sums are
    * exact decimals, the readout one in-plan division per group. */
  private def q234GiniBySource(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.giniIndexByGroup(
      Tables.documents(s, dir).select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long").as("n_tokens")),
      "source", "n_tokens", "doc_id")

  // ---------------------------------------------------------------- q235
  /** Incremental entity resolution ([[graft.operators.Linkage
    * .resolveEntitiesIncremental]]): q233's match pairs split into a
    * base shard (clustered once) and a delta shard folded through the
    * contracted-graph incremental CC — the accumulated match graph is
    * never re-clustered, and min-id labeling makes the fold provably
    * equal to the full recompute, so q235 is held to q233's VERBATIM
    * oracle (the q194/q131 argument applied to entities). */
  private def q235IncrementalEntities(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Components, Linkage}
    val (leftR, rightR, cands) = fsLinkageFixture(s, dir)
    // materialized ONCE (match-bounded — two ids per matched pair,
    // never the candidate table): BOTH the base-shard CC and the
    // delta fold consume the match table, and each otherwise re-runs
    // the full Fellegi–Sunter candidate join + field scoring
    val matches = Blocks.checkpoint(Linkage.fellegiSunterScores(cands,
        "id_a", "id_b", leftR, "cid", rightR, "cid",
        Seq(Linkage.FsField("c_mktsegment", 0.9, 0.2),
          Linkage.FsField("c_nationkey", 0.95, 0.04),
          Linkage.FsField("c_name", 0.99, 0.001)),
        matchThreshold = 5.0)
      .filter(col("is_match")).select("id_a", "id_b"))
    val prev = Components.connectedComponents(
      matches.filter(col("id_a") % 2 === 0), "id_a", "id_b")
    val records = leftR.select(col("cid"))
      .unionByName(rightR.select(col("cid")))
    Linkage.resolveEntitiesIncremental(records, "cid", prev,
        matches.filter(col("id_a") % 2 =!= 0))
      .orderBy("record_id")
  }

  // ---------------------------------------------------------------- q236
  /** Fellegi–Sunter THREE-BAND decisions ([[graft.operators.Linkage
    * .fellegiSunterDecisions]] + [[graft.operators.Linkage
    * .fsThresholds]]): q229's scored pairs banded match / review /
    * non-match, with BOTH cutoffs derived from the (m, u) estimates
    * and the target error budgets (false-match ≤ 0.0011, false-non-
    * match ≤ 0.0015) by the FS optimality construction — the
    * canonical completion of the linkage family. On these fields the
    * budgets derive upper = 1.863353 and lower = −3.516029, so the
    * segment+nation-agree/name-disagree pattern (weight 0.067490)
    * lands in the populated clerical band. The oracle replays the
    * scores AND the band CASE against those two derived literals —
    * a drifted threshold derivation hash-fails. */
  private def q236FsDecisions(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Linkage
    val (leftR, rightR, cands) = fsLinkageFixture(s, dir)
    val fields = Seq(Linkage.FsField("c_mktsegment", 0.9, 0.2),
      Linkage.FsField("c_nationkey", 0.95, 0.04),
      Linkage.FsField("c_name", 0.99, 0.001))
    val th = Linkage.fsThresholds(
      Linkage.FsEstimate(0.005, fields), muErr = 0.0011, lambdaErr = 0.0015)
    Linkage.fellegiSunterDecisions(cands, "id_a", "id_b",
        leftR, "cid", rightR, "cid", fields, th.upper, th.lower)
      .orderBy("id_a", "id_b")
  }

  // ---------------------------------------------------------------- q237
  /** Gini off the maintained value-count state ([[graft.operators
    * .Stats.giniFromCounts]]): q230's concentration number re-read
    * from the SUM-foldable ECDF grid via the rank-sum identity
    * `2Σi·xᵢ = Σ_v v·cnt·(2·prefix + cnt + 1)` — no per-row ranks at
    * all, grid-bounded prefix work. Held to q230's VERBATIM rank-path
    * oracle: the counts path and the rank path must agree to the
    * hash. */
  private def q237GiniFromCounts(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.giniFromCounts(
      graft.operators.Profile.ksSideCounts(docTokenMasses(s, dir),
        "n_tokens", "cnt"))

  /** The (doc_id, n_tokens) mass frame shared by the q237–q239 Gini
    * maintenance matrix — q230's token masses verbatim. */
  private def docTokenMasses(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      graft.functions.TextFunctions.tokenCount(col("text"))
        .cast("long").as("n_tokens"))

  // ---------------------------------------------------------------- q238
  /** Incremental Gini maintenance ([[graft.operators.Profile
    * .foldValueCounts]] + [[graft.operators.Stats.giniFromCounts]]):
    * the mass-count ECDF built from the pre-split shard, kept current
    * by folding the post-split shard's counts — base facts never
    * rescanned, and because counts merge by SUM and the rank identity
    * is tie-order-invariant the folded readout is held to q230's
    * VERBATIM full-recompute oracle (the q222 pattern, closing the
    * maintenance matrix's last open family). */
  private def q238IncrementalGini(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Profile, Stats}
    val masses = docTokenMasses(s, dir)
    val base = Profile.ksSideCounts(
      masses.filter(col("doc_id") % 10 < 8), "n_tokens", "cnt")
    val delta = Profile.ksSideCounts(
      masses.filter(col("doc_id") % 10 >= 8), "n_tokens", "cnt")
    Stats.giniFromCounts(Profile.foldValueCounts(base, delta))
  }

  // ---------------------------------------------------------------- q239
  /** Streaming Gini monitor ([[graft.operators.Stats
    * .giniMonitor]]): the token-mass feed micro-batched, each
    * batch's distinct-mass counts folded by SUM into versioned
    * parquet ECDF state (the q223 quantile state's twin), readout =
    * the shared rank-sum identity — held to q230's verbatim oracle,
    * completing Gini batch / incremental / stream. */
  private def q239StreamGini(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.monitor(
        Stats.giniMonitor("n_tokens"),
        docTokenMasses(s, dir).select(col("n_tokens")))

  // ---------------------------------------------------------------- q240
  /** Per-language token-mass-weighted length quantiles ([[graft
    * .operators.Profile.weightedExactQuantilesByGroup]]): "the p90
    * document length PER LANGUAGE, weighted by token mass" — q227's
    * mass semantics composed with q228's one-global-prefix-sum
    * machinery; per-group rank targets in-plan, answers verbatim
    * input lengths. The oracle replays the per-group weighted rank
    * rule over the same (lang, length) grid. */
  private def q240WeightedQuantilesByGroup(
      s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.weightedExactQuantilesByGroup(
      Tables.documents(s, dir).select(col("lang"),
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long").as("n_tokens")),
      "lang", "n_tokens", "n_tokens", quantilePs)

  // ---------------------------------------------------------------- q241
  /** Per-snapshot categorical association ([[graft.operators.Profile
    * .categoricalAssociationByGroup]]): q226's (event type ⊥ user
    * bucket?) audit drilled into each event-id snapshot slice —
    * chi-square / Cramér's V / MI as in-plan columns over per-group
    * joint tables (group cardinality unbounded, never a driver loop).
    * The oracle replays the full per-group r×c grid including
    * structural zeros. */
  private def q241AssociationByGroup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.categoricalAssociationByGroup(
      snapshotAssociationRows(s, dir),
      "snapshot", "event_type", "user_bucket")

  // ---------------------------------------------------------------- q242
  /** Incremental association maintenance ([[graft.operators.Profile
    * .foldJointCounts]] + [[graft.operators.Profile
    * .associationFromJoint]]): q226's joint contingency state built
    * from the pre-split events, kept current by folding the
    * post-split shard's cells — base facts never rescanned, counts
    * merge by SUM, so the folded readout is held to q226's VERBATIM
    * full-recompute oracle. Closes the association matrix
    * batch (q226) / incremental (this) / stream (q232) — every
    * maintained family now has all three forms. */
  private def q242IncrementalAssociation(
      s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Profile
    val ev = Tables.events(s, dir)
    def slice(pred: Column): DataFrame = ev.filter(pred)
      .select(col("event_type"),
        (col("user_id") % 7).cast("string").as("user_bucket"))
    val base = Profile.jointCountsOf(
      slice(col("event_id") % 10 < 8), "event_type", "user_bucket")
    val delta = Profile.jointCountsOf(
      slice(col("event_id") % 10 >= 8), "event_type", "user_bucket")
    Profile.associationFromJoint(Profile.foldJointCounts(base, delta))
  }

  // ---------------------------------------------------------------- q243
  /** Exact Kendall tau-b ([[graft.operators.Eval.kendallTauB]]): rank
    * agreement between a document's token count and its character
    * count — two length measures of one corpus, the scorer-agreement
    * readout pair-counted WITHOUT pair enumeration (dense joint grid
    * + two grid-bounded window passes; tie-corrected denominator).
    * The oracle replays C/D from the cell-pair formulation (cells²,
    * fine at oracle scale) and the identical tie algebra. */
  private def q243KendallTau(s: SparkSession, dir: String): DataFrame =
    graft.operators.Eval.kendallTauB(
      Tables.documents(s, dir).select(
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long").as("n_tokens"),
        col("n_chars")),
      "n_tokens", "n_chars")

  // ---------------------------------------------------------------- q244
  /** Incremental per-group quantile maintenance ([[graft.operators
    * .Profile.foldGroupValueCounts]] + the shared per-group readout):
    * q228's per-event-type ECDF state built from the pre-split
    * events, kept current by folding the post-split shard's (group,
    * value) cells — base facts never rescanned, counts merge by SUM
    * per cell, so the folded readout is held to q228's VERBATIM
    * full-recompute oracle (the q222 pattern, group-keyed). */
  private def q244IncrementalGroupQuantiles(
      s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Profile
    val ev = Tables.events(s, dir)
    val base = Profile.groupSideCounts(
      ev.filter(col("event_id") % 10 < 8), "event_type", "value")
    val delta = Profile.groupSideCounts(
      ev.filter(col("event_id") % 10 >= 8), "event_type", "value")
    Profile.groupQuantilesFromCounts(
      Profile.foldGroupValueCounts(base, delta), "event_type", quantilePs)
  }

  // ---------------------------------------------------------------- q245
  /** Streaming per-group quantile monitor ([[graft.operators.Profile
    * .groupQuantileMonitor]]): the (event type,
    * value) feed micro-batched, per-group counts folded by SUM into
    * versioned parquet state, readout = the shared global-prefix-sum
    * rank arithmetic — held to q228's verbatim oracle, closing the
    * per-group quantile matrix batch/incremental/stream. */
  private def q245StreamGroupQuantiles(
      s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.monitor(
        Profile.groupQuantileMonitor("event_type", "value", quantilePs),
        Tables.events(s, dir).select(col("event_type"), col("value")))

  // ---------------------------------------------------------------- q246
  /** FUZZY-agreement Fellegi–Sunter ([[graft.operators.Linkage
    * .fellegiSunterScores]] with a sub-1.0 `simThreshold` +
    * [[graft.expressions.JaroWinklerSim]]): the q229 fixture with the
    * perturbation made a TYPO (segment + 'X') instead of a
    * replacement — the segment field compares Jaro–Winkler ≥ 0.9, so
    * the typo'd segment (JW ~0.978) still AGREES and true pairs keep
    * all three fields' evidence, the comparison-level pattern real
    * linkage runs on names. Fixture sims sit < 0.62 or > 0.97 — no
    * value within 0.28 of the threshold, so the cross-engine
    * boundary is safe by construction. The oracle replays the
    * blocking join and the identical `jaro_winkler_similarity(sa,
    * sb) >= 0.9` predicate (DuckDB's builtin — the kernel is
    * bit-parity with it, spec-pinned on the textbook vectors). */
  private def q246FsFuzzy(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Linkage
    val cust = Tables.customer(s, dir)
    val leftR = cust.select(col("c_custkey").as("cid"),
      col("c_mktsegment"), col("c_nationkey"), col("c_name"))
    val rightR = cust.select((col("c_custkey") + 5000000L).as("cid"),
      when(col("c_custkey") % 5 === 0,
          concat(col("c_mktsegment"), lit("X")))
        .otherwise(col("c_mktsegment")).as("c_mktsegment"),
      col("c_nationkey"), col("c_name"))
    val cands = leftR.select(col("cid").as("id_a"),
        (col("cid") % 200).as("__blk"))
      .join(rightR.select(col("cid").as("id_b"),
        ((col("cid") - 5000000L) % 200).as("__blk")), Seq("__blk"))
      .select("id_a", "id_b")
    Linkage.fellegiSunterScores(cands, "id_a", "id_b",
        leftR, "cid", rightR, "cid",
        Seq(Linkage.FsField("c_mktsegment", 0.9, 0.2, simThreshold = 0.9),
          Linkage.FsField("c_nationkey", 0.95, 0.04),
          Linkage.FsField("c_name", 0.99, 0.001)),
        matchThreshold = 5.0)
      .orderBy("id_a", "id_b")
  }

  // ---------------------------------------------------------------- q247
  /** Per-source Gini off the maintained per-group count state
    * ([[graft.operators.Stats.giniByGroupFromCounts]]): q234's
    * per-source concentration re-read from the SUM-foldable
    * (source, mass) grid via group-local rank sums — held to q234's
    * VERBATIM rank-path oracle (the q237 argument, group-keyed). */
  private def q247GroupGiniFromCounts(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.giniByGroupFromCounts(
      graft.operators.Profile.groupSideCounts(
        sourceTokenMasses(s, dir), "source", "n_tokens"),
      "source")

  /** The (source, n_tokens) mass frame shared by the q247–q249
    * per-group Gini maintenance matrix — q234's inputs verbatim. */
  private def sourceTokenMasses(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("source"),
      graft.functions.TextFunctions.tokenCount(col("text"))
        .cast("long").as("n_tokens"))

  // ---------------------------------------------------------------- q248
  /** Incremental per-source Gini ([[graft.operators.Profile
    * .foldGroupValueCounts]] + [[graft.operators.Stats
    * .giniByGroupFromCounts]]): the per-group mass grid built from
    * the pre-split documents, kept current by folding the post-split
    * shard's cells — held to q234's verbatim oracle. */
  private def q248IncrementalGroupGini(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Profile, Stats}
    val docs = Tables.documents(s, dir)
    def masses(pred: Column): DataFrame = docs.filter(pred)
      .select(col("source"),
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long").as("n_tokens"))
    val base = Profile.groupSideCounts(
      masses(col("doc_id") % 10 < 8), "source", "n_tokens")
    val delta = Profile.groupSideCounts(
      masses(col("doc_id") % 10 >= 8), "source", "n_tokens")
    Stats.giniByGroupFromCounts(
      Profile.foldGroupValueCounts(base, delta), "source")
  }

  // ---------------------------------------------------------------- q249
  /** Streaming per-source Gini monitor ([[graft.operators.Stats
    * .groupGiniMonitor]]): the (source, mass) feed
    * micro-batched, per-group counts folded by SUM into versioned
    * state, readout = the group-local rank-sum identity — held to
    * q234's verbatim oracle, closing per-group Gini batch /
    * incremental / stream. */
  private def q249StreamGroupGini(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.monitor(
        Stats.groupGiniMonitor("source", "n_tokens"),
        sourceTokenMasses(s, dir))

  // ---------------------------------------------------------------- q250
  /** Incremental bootstrap-CI maintenance ([[graft.operators.Stats
    * .foldBootPartials]] + the shared percentile readout): q217's
    * per-replicate (Σ, count) partials built from the pre-split
    * events, kept current by folding the post-split shard's partials
    * — exact decimal sums per replicate, base facts never rescanned,
    * held to q217's VERBATIM full-recompute oracle (each row's
    * replicate weights are a pure function of (salt, b, id), so the
    * split cannot move any replicate mean). */
  private def q250IncrementalBootstrapCI(
      s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Stats
    val ev = Tables.events(s, dir)
    val base = Stats.bootPartialsOf(
      ev.filter(col("event_id") % 10 < 8), "value", "event_id", 100, "boot1")
    val delta = Stats.bootPartialsOf(
      ev.filter(col("event_id") % 10 >= 8), "value", "event_id", 100, "boot1")
    // checkpoint: the readout's three branches must read the folded
    // state, not re-run the two corpus folds per branch (the
    // bootstrapMeanCI argument)
    Stats.ciFromBootPartials(
      Blocks.checkpoint(Stats.foldBootPartials(base, delta)), 0.05)
  }

  // ---------------------------------------------------------------- q251
  /** Incremental PER-GROUP bootstrap CI — q220's grouped partials
    * folded across a base/delta split (per-(group, replicate)
    * exact-decimal cells), held to q220's VERBATIM oracle. */
  private def q251IncrementalGroupCI(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Stats
    val ev = Tables.events(s, dir)
    val base = Stats.groupBootPartialsOf(
      ev.filter(col("event_id") % 10 < 8), "event_type", "value",
      "event_id", 100, "boot2")
    val delta = Stats.groupBootPartialsOf(
      ev.filter(col("event_id") % 10 >= 8), "event_type", "value",
      "event_id", 100, "boot2")
    Stats.groupCiFromBootPartials(
      Blocks.checkpoint(Stats.foldBootPartials(base, delta)),
      "event_type", 0.05)
  }

  // ---------------------------------------------------------------- q252
  /** Streaming per-group bootstrap-CI monitor ([[graft.operators.Stats
    * .groupBootstrapMonitor]]): q220's (event type,
    * value, id) feed micro-batched, per-(group, replicate) partials
    * folded by exact decimal SUM into versioned state, readout = the
    * shared per-group percentile arithmetic — held to q220's verbatim
    * oracle, closing the CI matrix's last cell: whole-corpus AND
    * per-group now each have batch / incremental / stream. */
  private def q252StreamGroupCI(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.monitor(
        Stats.groupBootstrapMonitor("event_type", "value", "event_id",
          nBoot = 100, alpha = 0.05, salt = "boot2"),
        Tables.events(s, dir).select(col("event_type"), col("value"),
          col("event_id")))

  /** The multi-rater annotation fixture shared by q253–q255: five
    * raters label every document's language; rater r corrupts its
    * label on the rows where an integer hash lands below the rater's
    * noise budget ((r+1)·8 of 100 — rater r4 is the 40%-noise outlier
    * the report must flag), and a corrupted label is a 16-way junk
    * category derived from a second hash, so wrong raters rarely
    * agree with each other. Every decision is integer arithmetic on a
    * portable hash — both engines derive the identical panel. */
  private def annotationRatings(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val r = col("rater_i")
    val key = concat(r.cast("string"), lit(":"), col("doc_id").cast("string"))
    val noisy = pmod(TextFunctions.portableTokenHash32(
      concat(lit("ann:"), key)), lit(100L)) < (r + 1) * 8
    val junk = concat(lit("z"),
      substring(md5(concat(lit("annx:"), key)), 1, 1))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(0), lit(4))).as("rater_i"))
      .select(col("doc_id"),
        concat(lit("r"), r.cast("string")).as("rater"),
        when(noisy, junk).otherwise(col("lang")).as("label"))
  }

  // ---------------------------------------------------------------- q253
  /** Fleiss' kappa ([[graft.operators.Annotate.fleissKappa]]): the
    * five-rater panel's chance-corrected agreement — exact integer
    * sufficient statistics (Σ n_ik², Σ c_k² as DECIMAL(38,0)), one
    * double division on the 6dp gate; the oracle replays the cell
    * counts and the identical closed form. */
  private def q253FleissKappa(s: SparkSession, dir: String): DataFrame =
    graft.operators.Annotate.fleissKappa(
      annotationRatings(s, dir), "doc_id", "rater", "label")

  // ---------------------------------------------------------------- q254
  /** Majority-vote label consolidation ([[graft.operators.Annotate
    * .consolidateLabels]]): the panel's ratings become one consensus
    * label per document with deterministic ties (most votes, then
    * lexicographically smallest) and a confidence — the
    * ratings-to-training-labels step. Oracle replays the argmin and
    * the division. */
  private def q254ConsolidateLabels(s: SparkSession, dir: String): DataFrame =
    graft.operators.Annotate.consolidateLabels(
        annotationRatings(s, dir), "doc_id", "rater", "label")
      .orderBy("doc_id")

  // ---------------------------------------------------------------- q255
  /** Per-annotator agreement report ([[graft.operators.Annotate
    * .annotatorReport]]): each rater's agreement with the consensus
    * under a Wilson interval, flagged when even the interval's upper
    * bound sits below 0.75 — the noisy-rater alarm (the fixture's r4
    * labels 40% junk and must flag). Oracle replays consolidation,
    * the join, and the identical Wilson arithmetic (z·z as an
    * expression, never a 3.8416 literal). */
  private def q255AnnotatorReport(s: SparkSession, dir: String): DataFrame =
    graft.operators.Annotate.annotatorReport(
      annotationRatings(s, dir), "doc_id", "rater", "label",
      flagBelow = 0.75)

  // ---------------------------------------------------------------- q256
  /** Krippendorff's alpha ([[graft.operators.Annotate
    * .krippendorffAlpha]]): the same panel under VARYING participation
    * — each (rater, doc) assignment exists only where a second hash
    * admits it (~60%), the real crowd-labeling shape Fleiss refuses
    * loudly; items with one rating drop, and the per-item
    * 1/(n_i−1) fractions scale through lcm(1..4) = 12 into exact
    * integers. Oracle replays the participation filter, both
    * disagreement sums, and the one division. */
  private def q256KrippendorffAlpha(s: SparkSession, dir: String): DataFrame =
    graft.operators.Annotate.krippendorffAlpha(
      annotationRatings(s, dir).filter(krParticipates),
      "doc_id", "rater", "label")

  /** The pairwise-preference fixture shared by q257–q259: consecutive
    * event pairs (even id vs id+1) become judged comparisons between
    * their event TYPES — the higher `value` wins; same-type,
    * equal-value, and NULL-value pairs drop. ~N/2 deterministic
    * comparisons over a 5-model tournament, derivable identically on
    * both engines. */
  private def preferencePairs(s: SparkSession, dir: String): DataFrame =
    preferencePairsSlice(s, dir, lit(true))

  /** [[preferencePairs]] restricted to a predicate over the
    * left-event alias (`a.*`) — the q284 shard carver (judged pairs
    * land in disjoint shards by their anchoring event id). */
  private def preferencePairsSlice(
      s: SparkSession, dir: String, pred: Column): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    ev.as("a").join(ev.as("b"),
        col("b.event_id") === col("a.event_id") + 1L)
      .filter(pmod(col("a.event_id"), lit(2L)) === 0L &&
        col("a.value").isNotNull && col("b.value").isNotNull &&
        col("a.event_type") =!= col("b.event_type") &&
        col("a.value") =!= col("b.value") && pred)
      .select(
        when(col("a.value") > col("b.value"), col("a.event_type"))
          .otherwise(col("b.event_type")).as("winner"),
        when(col("a.value") > col("b.value"), col("b.event_type"))
          .otherwise(col("a.event_type")).as("loser"))
  }

  // ---------------------------------------------------------------- q257
  /** Pairwise win matrix ([[graft.operators.Preference
    * .pairwiseWinMatrix]]): the tournament's canonical pair table —
    * per unordered model pair, comparisons, wins, and the Wilson
    * interval on P(a beats b). Oracle replays the canonicalization,
    * counts, and the identical interval arithmetic. */
  private def q257PairwiseWins(s: SparkSession, dir: String): DataFrame =
    graft.operators.Preference.pairwiseWinMatrix(
      preferencePairs(s, dir), "winner", "loser")

  // ---------------------------------------------------------------- q258
  /** Bradley–Terry ratings ([[graft.operators.Preference
    * .bradleyTerry]]): 25 MM iterations over the 5-model win matrix —
    * deterministic driver arithmetic in a FIXED operation order, so
    * the oracle replays the identical IEEE doubles via a recursive
    * list-state CTE (unnormalized iteration — the update is
    * homogeneous of degree 1 — normalized once at readout; `list_
    * reduce` is the same left fold as the JVM loop). Ranks compare on
    * the ROUNDED rating so a sub-gate margin cannot reorder
    * engines. */
  private def q258BradleyTerry(s: SparkSession, dir: String): DataFrame =
    graft.operators.Preference.bradleyTerry(
      preferencePairs(s, dir), "winner", "loser")

  // ---------------------------------------------------------------- q259
  /** Intransitivity audit ([[graft.operators.Preference
    * .intransitivityAudit]]): the majority tournament's 3-cycle count
    * — every cycle is a model triple no scalar leaderboard can order.
    * Oracle replays the majority edges and both triple joins. */
  private def q259Intransitivity(s: SparkSession, dir: String): DataFrame =
    graft.operators.Preference.intransitivityAudit(
      preferencePairs(s, dir), "winner", "loser")

  // ---------------------------------------------------------------- q260
  /** Herfindahl–Hirschman index ([[graft.operators.Stats.hhiIndex]]):
    * token-mass concentration across documents — q230's input, the
    * quadratic-weighted companion to its Gini. Exact integer
    * Σx/Σx² as DECIMAL(38,0), two divisions on the 6dp gate; no
    * ranks, no sort — one aggregation. */
  private def q260HhiTokenMass(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.hhiIndex(docTokenMasses(s, dir), "n_tokens")

  // ---------------------------------------------------------------- q261
  /** Per-source HHI ([[graft.operators.Stats.hhiIndexByGroup]]): the
    * concentration drill-down per source, whole readout in-plan
    * (group cardinality unbounded). Held to its own per-group replay
    * of q260's arithmetic. */
  private def q261HhiBySource(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.hhiIndexByGroup(
      sourceTokenMasses(s, dir), "source", "n_tokens")

  // ---------------------------------------------------------------- q262
  /** Theil T index ([[graft.operators.Stats.theilIndex]]): the
    * entropy-based concentration number over the same token masses —
    * per-term 12dp-rounded decimal sums (the q226 discipline) make
    * term order irrelevant and the log replayable; normalized by
    * ln(n) into [0, 1]. */
  private def q262TheilTokenMass(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.theilIndex(docTokenMasses(s, dir), "n_tokens")

  // ---------------------------------------------------------------- q263
  /** HHI off the maintained count state ([[graft.operators.Stats
    * .hhiFromCounts]]): every HHI sufficient statistic is a SUM over
    * the (v, cnt) ECDF the quantile/KS/Gini families maintain —
    * counts path held to q260's VERBATIM direct oracle (the q237
    * pattern). */
  private def q263HhiFromCounts(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.hhiFromCounts(
      graft.operators.Profile.ksSideCounts(
        docTokenMasses(s, dir), "n_tokens", "cnt"))

  // ---------------------------------------------------------------- q264
  /** Incremental HHI maintenance ([[graft.operators.Profile
    * .foldValueCounts]] + [[graft.operators.Stats.hhiFromCounts]]):
    * the mass grid built from the pre-split shard, kept current by
    * folding the post-split shard's counts — base facts never
    * rescanned, held to q260's VERBATIM oracle (the q238 pattern). */
  private def q264IncrementalHhi(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Profile, Stats}
    val masses = docTokenMasses(s, dir)
    val base = Profile.ksSideCounts(
      masses.filter(pmod(col("doc_id"), lit(10L)) < 8L), "n_tokens", "cnt")
    val delta = Profile.ksSideCounts(
      masses.filter(pmod(col("doc_id"), lit(10L)) >= 8L), "n_tokens", "cnt")
    Stats.hhiFromCounts(Profile.foldValueCounts(base, delta))
  }

  // ---------------------------------------------------------------- q265
  /** Streaming HHI monitor ([[graft.operators.Stats
    * .hhiMonitor]]): the mass feed micro-batched into the SAME
    * versioned value-count state, readout = [[graft.operators.Stats
    * .hhiFromCounts]] — held to q260's verbatim oracle (the q239
    * pattern); one maintained grid now serves quantiles, KS, Gini,
    * and HHI. */
  private def q265StreamHhi(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.monitor(
        Stats.hhiMonitor("n_tokens"),
        docTokenMasses(s, dir).select(col("n_tokens")))

  /** The (snapshot, type, bucket) frame q241's per-group association
    * audits — shared by the q266/q267 maintenance twins (ONE
    * projection, so the batch query and its incremental/stream twins
    * cannot desynchronize from their shared oracle). */
  private def snapshotAssociationRows(
      s: SparkSession, dir: String): DataFrame =
    snapshotAssociationSlice(s, dir, lit(true))

  /** [[snapshotAssociationRows]] restricted to an event-id predicate —
    * the q266 shard carver. */
  private def snapshotAssociationSlice(
      s: SparkSession, dir: String, pred: Column): DataFrame =
    Tables.events(s, dir).filter(pred).select(
      (col("event_id") % 3).cast("string").as("snapshot"),
      col("event_type"),
      (col("user_id") % 7).cast("string").as("user_bucket"))

  // ---------------------------------------------------------------- q266
  /** Incremental PER-GROUP association maintenance ([[graft.operators
    * .Profile.foldGroupJointCounts]] + the shared per-group readout):
    * q241's group-keyed joint state built from the pre-split events,
    * kept current by folding the post-split shard's cells — group-
    * keyed counts merge by SUM, held to q241's VERBATIM oracle. */
  private def q266IncrementalGroupAssociation(
      s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Profile
    def slice(pred: Column): DataFrame = Profile.groupJointCountsOf(
      snapshotAssociationSlice(s, dir, pred),
      "snapshot", "event_type", "user_bucket")
    Profile.associationByGroupFromJoint(
      Blocks.checkpoint(Profile.foldGroupJointCounts(
        slice(col("event_id") % 10 < 8),
        slice(col("event_id") % 10 >= 8))),
      "snapshot")
  }

  // ---------------------------------------------------------------- q267
  /** Streaming per-group association monitor ([[graft.operators.Profile
    * .groupAssociationMonitor]]): q241's row feed
    * micro-batched, group-keyed joint counts folded by SUM into
    * versioned state, readout = the shared per-group chi²/V/MI
    * arithmetic — held to q241's verbatim oracle, closing the
    * association matrix's per-group column (corpus AND per-group now
    * each have batch / incremental / stream). */
  private def q267StreamGroupAssociation(
      s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.monitor(
        Profile.groupAssociationMonitor("snapshot", "event_type",
          "user_bucket"),
        snapshotAssociationRows(s, dir))

  // ---------------------------------------------------------------- q268
  /** Per-source Theil T ([[graft.operators.Stats.theilIndexByGroup]]):
    * within-source token-mass concentration, whole readout in-plan
    * (group cardinality unbounded) — the drill-down whose
    * mass-weighted sum is exactly q269's "within" half. */
  private def q268TheilBySource(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.theilIndexByGroup(
      sourceTokenMasses(s, dir), "source", "n_tokens")

  // ---------------------------------------------------------------- q269
  /** Theil decomposition ([[graft.operators.Stats
    * .theilDecomposition]]): corpus token-mass concentration split
    * into between-source and mass-weighted within-source parts — the
    * additive audit trail Gini cannot give ("a few giant SOURCES, or
    * giants WITHIN each source?"). The oracle independently replays
    * all three sums; the decomposition identity is spec-pinned. */
  private def q269TheilDecomposition(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.theilDecomposition(
      sourceTokenMasses(s, dir), "source", "n_tokens")

  // ---------------------------------------------------------------- q270
  /** Theil off the maintained count state ([[graft.operators.Stats
    * .theilFromCounts]]): an integer multiple of a 12dp-rounded
    * decimal term is exact, so the counts readout provably equals the
    * per-row one — held to q262's VERBATIM oracle (the q237/q263
    * pattern). */
  private def q270TheilFromCounts(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.theilFromCounts(
      graft.operators.Profile.ksSideCounts(
        docTokenMasses(s, dir), "n_tokens", "cnt"))

  // ---------------------------------------------------------------- q271
  /** Incremental Theil maintenance: the mass grid folded across the
    * pre/post split, readout = [[graft.operators.Stats
    * .theilFromCounts]] — held to q262's verbatim oracle. */
  private def q271IncrementalTheil(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Profile, Stats}
    val masses = docTokenMasses(s, dir)
    val base = Profile.ksSideCounts(
      masses.filter(pmod(col("doc_id"), lit(10L)) < 8L), "n_tokens", "cnt")
    val delta = Profile.ksSideCounts(
      masses.filter(pmod(col("doc_id"), lit(10L)) >= 8L), "n_tokens", "cnt")
    Stats.theilFromCounts(Profile.foldValueCounts(base, delta))
  }

  // ---------------------------------------------------------------- q272
  /** Streaming Theil monitor ([[graft.operators.Stats
    * .theilMonitor]]): the mass feed micro-batched into the
    * shared versioned value-count state — held to q262's verbatim
    * oracle; the one maintained grid now serves quantiles, KS, Gini,
    * HHI, and Theil. */
  private def q272StreamTheil(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.monitor(
        Stats.theilMonitor("n_tokens"),
        docTokenMasses(s, dir).select(col("n_tokens")))

  // ---------------------------------------------------------------- q273
  /** Brier score + expected calibration error ([[graft.operators.Eval
    * .brierEce]]): a hash-uniform score column with labels drawn at
    * (approximately) the claimed rate — every score and label a pure
    * integer-hash function both engines derive identically; Brier and
    * the 10-bin ECE ride 12dp-rounded decimal term sums onto the 6dp
    * gate. */
  private def q273BrierEce(s: SparkSession, dir: String): DataFrame =
    graft.operators.Eval.brierEce(
      brierScoredDocs(s, dir), "label", "s", bins = 10, lo = 0.0, hi = 1.0)

  /** The q273/q286/q287 scored corpus: hash-uniform scores with
    * labels drawn at (approximately) the claimed rate — every score
    * and label a pure integer-hash function both engines derive
    * identically. ONE derivation shared with the sliced q290–q292
    * fixture, so the grouped and ungrouped calibration corpora cannot
    * desynchronize. */
  private def brierScoredDocs(s: SparkSession, dir: String): DataFrame =
    brierScoredDocsBySource(s, dir).drop("source")

  // ---------------------------------------------------------------- q274
  /** Per-source HHI off the maintained per-group count state
    * ([[graft.operators.Stats.hhiByGroupFromCounts]]) — held to
    * q261's VERBATIM oracle (the q247 pattern on the HHI readout). */
  private def q274GroupHhiFromCounts(s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.hhiByGroupFromCounts(
      graft.operators.Profile.groupSideCounts(
        sourceTokenMasses(s, dir), "source", "n_tokens"),
      "source")

  // ---------------------------------------------------------------- q275
  /** Incremental per-source HHI: the per-group mass grid folded
    * across the pre/post split — held to q261's verbatim oracle. */
  private def q275IncrementalGroupHhi(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Profile, Stats}
    val masses = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      graft.functions.TextFunctions.tokenCount(col("text"))
        .cast("long").as("n_tokens"))
    def slice(pred: Column): DataFrame = Profile.groupSideCounts(
      masses.filter(pred), "source", "n_tokens")
    Stats.hhiByGroupFromCounts(
      Profile.foldGroupValueCounts(
        slice(pmod(col("doc_id"), lit(10L)) < 8L),
        slice(pmod(col("doc_id"), lit(10L)) >= 8L)),
      "source")
  }

  // ---------------------------------------------------------------- q276
  /** Streaming per-source HHI monitor ([[graft.operators.Stats
    * .groupHhiMonitor]]) — held to q261's verbatim oracle;
    * the per-group grid now serves quantiles, Gini, and HHI. */
  private def q276StreamGroupHhi(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.monitor(
        Stats.groupHhiMonitor("source", "n_tokens"),
        sourceTokenMasses(s, dir))

  // ---------------------------------------------------------------- q277
  /** Per-source Theil off the maintained per-group count state
    * ([[graft.operators.Stats.theilByGroupFromCounts]]) — held to
    * q268's VERBATIM oracle. */
  private def q277GroupTheilFromCounts(
      s: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.theilByGroupFromCounts(
      graft.operators.Profile.groupSideCounts(
        sourceTokenMasses(s, dir), "source", "n_tokens"),
      "source")

  // ---------------------------------------------------------------- q278
  /** Incremental per-source Theil: the per-group grid folded across
    * the pre/post split — held to q268's verbatim oracle. */
  private def q278IncrementalGroupTheil(
      s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Profile, Stats}
    val masses = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      graft.functions.TextFunctions.tokenCount(col("text"))
        .cast("long").as("n_tokens"))
    def slice(pred: Column): DataFrame = Profile.groupSideCounts(
      masses.filter(pred), "source", "n_tokens")
    Stats.theilByGroupFromCounts(
      Profile.foldGroupValueCounts(
        slice(pmod(col("doc_id"), lit(10L)) < 8L),
        slice(pmod(col("doc_id"), lit(10L)) >= 8L)),
      "source")
  }

  // ---------------------------------------------------------------- q279
  /** Streaming per-source Theil monitor ([[graft.operators.Stats
    * .groupTheilMonitor]]) — held to q268's verbatim oracle;
    * closes the concentration matrix completely: Gini/HHI/Theil ×
    * corpus/per-group × batch/counts/incremental/stream. */
  private def q279StreamGroupTheil(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.monitor(
        Stats.groupTheilMonitor("source", "n_tokens"),
        sourceTokenMasses(s, dir))

  // ---------------------------------------------------------------- q280
  /** Incremental Fleiss-kappa maintenance ([[graft.operators.Annotate
    * .foldAnnotationCells]] + the shared cell readout): the (item,
    * label) cell state built from raters r0–r2's assignments, kept
    * current by folding r3–r4's — ratings never rescanned, held to
    * q253's VERBATIM full-panel oracle (cells merge by SUM and kappa
    * is a function of the cells alone). */
  private def q280IncrementalFleiss(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Annotate
    val r = annotationRatings(s, dir)
    def cells(pred: Column): DataFrame = Annotate.annotationCellsOf(
      r.filter(pred), "doc_id", "rater", "label", "q280")
    Annotate.fleissKappaFromCells(
      Blocks.checkpoint(Annotate.foldAnnotationCells(
        cells(col("rater") < "r3"), cells(col("rater") >= "r3"))))
  }

  // ---------------------------------------------------------------- q281
  /** Streaming inter-rater agreement monitor ([[graft.operators.Annotate
    * .fleissMonitor]]): the ratings feed
    * micro-batched, cells folded by SUM, kappa read off the completed
    * panel — held to q253's verbatim oracle. */
  private def q281StreamFleiss(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.monitor(
        Annotate.fleissMonitor("doc_id", "rater", "label"),
        annotationRatings(s, dir))

  /** The q256/q282/q283 varying-participation predicate. */
  private def krParticipates: Column = {
    import graft.functions.TextFunctions
    pmod(TextFunctions.portableTokenHash32(
      concat(lit("kr:"), substring(col("rater"), 2, 10), lit(":"),
        col("doc_id").cast("string"))), lit(5L)) < 3L
  }

  // ---------------------------------------------------------------- q282
  /** Incremental Krippendorff-alpha maintenance: q256's
    * varying-participation cell state folded across a doc-parity
    * split — held to q256's VERBATIM oracle (the same cell table
    * serves kappa and alpha). */
  private def q282IncrementalAlpha(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Annotate
    val r = annotationRatings(s, dir).filter(krParticipates)
    def cells(pred: Column): DataFrame = Annotate.annotationCellsOf(
      r.filter(pred), "doc_id", "rater", "label", "q282")
    Annotate.krippendorffAlphaFromCells(
      Blocks.checkpoint(Annotate.foldAnnotationCells(
        cells(pmod(col("doc_id"), lit(2L)) === 0L),
        cells(pmod(col("doc_id"), lit(2L)) === 1L))))
  }

  // ---------------------------------------------------------------- q283
  /** Streaming Krippendorff-alpha monitor ([[graft.operators.Annotate
    * .alphaMonitor]]): the participation-filtered
    * feed micro-batched — alpha tolerates varying participation, so
    * the live readout is meaningful mid-panel; held to q256's
    * verbatim oracle. */
  private def q283StreamAlpha(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.monitor(
        Annotate.alphaMonitor("doc_id", "rater", "label"),
        annotationRatings(s, dir).filter(krParticipates))

  // ---------------------------------------------------------------- q284
  /** Incremental Bradley–Terry maintenance ([[graft.operators
    * .Preference.foldWinCounts]] + the shared MM readout): the
    * directed win counts built from the tournament's first 80% of
    * judged pairs, kept current by folding the rest — the BT
    * likelihood depends on the comparisons only through these counts,
    * so the folded fit is held to q258's VERBATIM oracle. */
  private def q284IncrementalBt(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Preference
    def counts(pred: Column): DataFrame = Preference.winCountsOf(
      preferencePairsSlice(s, dir, pred), "winner", "loser", "q284")
    Preference.bradleyTerryFromCounts(
      Blocks.checkpoint(Preference.foldWinCounts(
        counts(pmod(col("a.event_id"), lit(20L)) < 16L),
        counts(pmod(col("a.event_id"), lit(20L)) >= 16L))))
  }

  // ---------------------------------------------------------------- q285
  /** Streaming Bradley–Terry leaderboard ([[graft.operators.Preference
    * .leaderboardMonitor]]): the comparison feed
    * micro-batched, win counts folded by SUM, the deterministic MM
    * re-fit off the accumulated state — held to q258's verbatim
    * oracle. */
  private def q285StreamBt(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.monitor(
        Preference.leaderboardMonitor("winner", "loser"),
        preferencePairs(s, dir))

  // ---------------------------------------------------------------- q286
  /** Incremental calibration maintenance ([[graft.operators.Eval
    * .foldCalibState]] + the shared Brier/ECE readout): the
    * per-bucket exact-decimal state built from even doc ids, folded
    * with the odd — held to q273's VERBATIM oracle. */
  private def q286IncrementalCalibration(
      s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Eval
    val scored = brierScoredDocs(s, dir)
    def state(pred: Column): DataFrame = Eval.calibStateOf(
      scored.filter(pred), "label", "s")
    Eval.brierEceFromState(
      Blocks.checkpoint(Eval.foldCalibState(
        state(pmod(col("doc_id"), lit(2L)) === 0L),
        state(pmod(col("doc_id"), lit(2L)) === 1L))))
  }

  // ---------------------------------------------------------------- q287
  /** Streaming calibration monitor ([[graft.operators.Eval
    * .calibrationMonitor]]): the scored feed micro-batched into
    * bins-bounded versioned state — the live confidence-honesty
    * dashboard, held to q273's verbatim oracle. */
  private def q287StreamCalibration(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.monitor(
        Eval.calibrationMonitor("label", "s"),
        brierScoredDocs(s, dir).select(col("label"), col("s")))

  // ---------------------------------------------------------------- q288
  /** Incremental label-consolidation maintenance ([[graft.operators
    * .Annotate.foldAnnotationCells]] + the shared argmin readout):
    * the consensus training-label table kept current by folding new
    * raters' cells — held to q254's VERBATIM oracle (the consensus is
    * a function of the cells alone; the same maintained table serves
    * kappa, alpha, and consolidation). */
  private def q288IncrementalConsensus(
      s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Annotate
    val r = annotationRatings(s, dir)
    def cells(pred: Column): DataFrame = Annotate.annotationCellsOf(
      r.filter(pred), "doc_id", "rater", "label", "q288")
    Annotate.consolidateLabelsFromCells(
        Annotate.foldAnnotationCells(
          cells(col("rater") < "r3"), cells(col("rater") >= "r3")),
        "doc_id")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q289
  /** Streaming label-consolidation monitor ([[graft.operators.Annotate
    * .consensusMonitor]]): the ratings feed
    * micro-batched, the consensus table read off the accumulated
    * cells — held to q254's verbatim oracle. */
  private def q289StreamConsensus(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.monitor(
        Annotate.consensusMonitor("doc_id", "rater", "label"),
        annotationRatings(s, dir))
      .orderBy("doc_id")

  /** q290–q292's sliced scored corpus: [[brierScoredDocs]] keyed by
    * the document's source. */
  private def brierScoredDocsBySource(
      s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val su = TextFunctions.portableTokenHash32(
      concat(lit("cal:"), col("doc_id").cast("string")))
      .cast("double") / lit(4294967296.0)
    val label = pmod(TextFunctions.portableTokenHash32(
      concat(lit("lab:"), col("doc_id").cast("string"))), lit(1000L))
      .cast("double") < floor(su * lit(1000.0))
    Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .withColumn("s", su).withColumn("label", label)
  }

  // ---------------------------------------------------------------- q290
  /** Per-source calibration audit ([[graft.operators.Eval
    * .brierEceByGroup]]): Brier + ECE per source, whole readout
    * in-plan (group cardinality unbounded) — the per-slice evaluation
    * that catches a model calibrated overall while confidently wrong
    * on one slice. */
  private def q290CalibrationBySource(
      s: SparkSession, dir: String): DataFrame =
    graft.operators.Eval.brierEceByGroup(
      brierScoredDocsBySource(s, dir), "source", "label", "s")

  // ---------------------------------------------------------------- q291
  /** Incremental per-group calibration maintenance: the group-keyed
    * exact-decimal state folded across a doc-parity split — held to
    * q290's VERBATIM oracle. */
  private def q291IncrementalGroupCalibration(
      s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Eval
    val scored = brierScoredDocsBySource(s, dir)
    def state(pred: Column): DataFrame = Eval.groupCalibStateOf(
      scored.filter(pred), "source", "label", "s")
    Eval.brierEceByGroupFromState(
      Blocks.checkpoint(Eval.foldGroupCalibState(
        state(pmod(col("doc_id"), lit(2L)) === 0L),
        state(pmod(col("doc_id"), lit(2L)) === 1L))),
      "source")
  }

  // ---------------------------------------------------------------- q292
  /** Streaming per-group calibration monitor ([[graft.operators.Eval
    * .groupCalibrationMonitor]]): the sliced scored
    * feed micro-batched into group-keyed bins-bounded state — held to
    * q290's verbatim oracle. */
  private def q292StreamGroupCalibration(
      s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.monitor(
        Eval.groupCalibrationMonitor("source", "label", "s"),
        brierScoredDocsBySource(s, dir)
          .select(col("source"), col("label"), col("s")))

  // ---------------------------------------------------------------- q293
  /** Weighted Cohen's kappa ([[graft.operators.Eval.weightedKappa]]):
    * two raters score documents on an ordinal 0–4 quality scale —
    * rater B is rater A hash-shifted by {−1, 0, +1} and clipped, so
    * near-misses dominate and the linear/quadratic weightings must
    * disagree with the unweighted view. Every level is integer hash
    * arithmetic both engines derive identically; the oracle replays
    * cells, marginals, and both weighted sums. */
  private def q293WeightedKappa(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val a = pmod(TextFunctions.portableTokenHash32(
      concat(lit("wa:"), col("doc_id").cast("string"))), lit(5L))
    val shift = pmod(TextFunctions.portableTokenHash32(
      concat(lit("wb:"), col("doc_id").cast("string"))), lit(3L)) - 1L
    val b = least(greatest(a + shift, lit(0L)), lit(4L))
    graft.operators.Eval.weightedKappa(
      Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("score_a", a).withColumn("score_b", b),
      "score_a", "score_b")
  }

  // ---------------------------------------------------------------- q294
  /** Kendall's W ([[graft.operators.Eval.kendallW]]): five raters
    * score every document as a shared hash-derived base quality (×10)
    * plus rater-specific ±10 noise — strong but imperfect
    * concordance; per-rater ranks ride the skew-proof global sort and
    * the oracle replays every rank, rank sum, and the exact-integer
    * closed form. */
  private def q294KendallW(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val base = pmod(TextFunctions.portableTokenHash32(
      concat(lit("kwb:"), col("doc_id").cast("string"))), lit(100L))
    val noise = pmod(TextFunctions.portableTokenHash32(
      concat(lit("kwn:"), col("rater_i").cast("string"), lit(":"),
        col("doc_id").cast("string"))), lit(21L)) - 10L
    graft.operators.Eval.kendallW(
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(sequence(lit(0), lit(4)))
          .as("rater_i"))
        .select(col("doc_id"),
          concat(lit("r"), col("rater_i").cast("string")).as("rater"),
          (base * 10L + noise).as("score")),
      "doc_id", "rater", "score")
  }

  // ---------------------------------------------------------------- q295
  /** Vocabulary richness ([[graft.operators.Corpus.vocabRichness]]):
    * Chao1 + Good–Turing unseen mass over the corpus vocabulary — the
    * saturation readout that says whether more crawl still buys new
    * types. Oracle replays the frequency table, the type counts, and
    * both closed forms. */
  private def q295VocabRichness(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.vocabRichness(Tables.documents(s, dir), "text")

  // ---------------------------------------------------------------- q296
  /** Incremental vocabulary-richness maintenance ([[graft.operators
    * .Corpus.foldTokenFrequencies]]): the frequency table built from
    * even doc ids, folded with the odd — held to q295's VERBATIM
    * oracle (token counts merge by SUM). */
  private def q296IncrementalVocab(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    val docs = Tables.documents(s, dir)
    Corpus.vocabRichnessFromFrequencies(
      Corpus.foldTokenFrequencies(
        Corpus.tokenFrequencies(
          docs.filter(pmod(col("doc_id"), lit(2L)) === 0L), "text"),
        Corpus.tokenFrequencies(
          docs.filter(pmod(col("doc_id"), lit(2L)) === 1L), "text")))
  }

  // ---------------------------------------------------------------- q297
  /** Streaming vocabulary-saturation monitor ([[graft.operators.Corpus
    * .vocabRichnessMonitor]]): the document feed
    * micro-batched into vocabulary-bounded versioned state — held to
    * q295's verbatim oracle. */
  private def q297StreamVocab(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.monitor(
        Corpus.vocabRichnessMonitor("text"),
        Tables.documents(s, dir).select(col("text")))

  // ---------------------------------------------------------------- q298
  /** Rank-biased overlap ([[graft.operators.Eval.rankBiasedOverlap]]):
    * do the corpus' two length measures (token count vs character
    * count) agree about the TOP of the ranking? Depth 50, persistence
    * 0.9; the oracle replays both rank assignments, the prefix
    * intersection counts, and the 12dp-rounded depth terms. */
  private def q298Rbo(s: SparkSession, dir: String): DataFrame =
    graft.operators.Eval.rankBiasedOverlap(
      Tables.documents(s, dir).select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("long").as("n_tokens"),
        col("n_chars")),
      "doc_id", "n_tokens", "n_chars", depth = 50, p = 0.9)

  // ---------------------------------------------------------------- q299
  /** Per-language Cohen's kappa ([[graft.operators.Eval
    * .cohenKappaByGroup]]): raters r0 (8% noise) and r1 (16% noise)
    * from the annotation panel, agreement drilled into each language
    * — the slice audit that catches raters guessing on one language
    * while agreeing overall. Whole readout in-plan; oracle replays
    * per-group cells, marginals, and the exact-integer closed
    * form. */
  private def q299KappaByLang(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    def label(r: Int): Column = {
      val key = concat(lit(s"$r:"), col("doc_id").cast("string"))
      val noisy = pmod(TextFunctions.portableTokenHash32(
        concat(lit("ann:"), key)), lit(100L)) < (r + 1) * 8
      val junk = concat(lit("z"),
        substring(md5(concat(lit("annx:"), key)), 1, 1))
      when(noisy, junk).otherwise(col("lang"))
    }
    graft.operators.Eval.cohenKappaByGroup(
      Tables.documents(s, dir).select(col("doc_id"), col("lang"))
        .withColumn("label_a", label(0)).withColumn("label_b", label(1)),
      "lang", "label_a", "label_b")
  }

  // ---------------------------------------------------------------- q300
  /** Per-language vocabulary richness ([[graft.operators.Corpus
    * .vocabRichnessByGroup]]): Chao1 + unseen mass per language —
    * "is the German crawl saturated while Chinese still buys new
    * types?" — whole readout in-plan over the group-keyed frequency
    * table. */
  private def q300VocabByLang(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.vocabRichnessByGroup(
      Tables.documents(s, dir), "lang", "text")

  // ---------------------------------------------------------------- q301
  /** Incremental per-language vocabulary maintenance ([[graft
    * .operators.Corpus.foldGroupTokenFrequencies]]): the group-keyed
    * frequency table folded across a doc-parity split — held to
    * q300's VERBATIM oracle. */
  private def q301IncrementalGroupVocab(
      s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    val docs = Tables.documents(s, dir)
    Corpus.vocabRichnessByGroupFromFrequencies(
      Corpus.foldGroupTokenFrequencies(
        Corpus.groupTokenFrequencies(
          docs.filter(pmod(col("doc_id"), lit(2L)) === 0L), "lang", "text"),
        Corpus.groupTokenFrequencies(
          docs.filter(pmod(col("doc_id"), lit(2L)) === 1L), "lang", "text")),
      "lang")
  }

  // ---------------------------------------------------------------- q302
  /** Streaming per-language saturation monitor ([[graft.operators.Corpus
    * .groupVocabMonitor]]) — held to q300's verbatim
    * oracle. */
  private def q302StreamGroupVocab(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.monitor(
        Corpus.groupVocabMonitor("lang", "text"),
        Tables.documents(s, dir).select(col("lang"), col("text")))

  // ---------------------------------------------------------------- q303
  /** Incremental win-matrix maintenance ([[graft.operators.Preference
    * .foldWinCounts]] + the shared Wilson readout): the directed
    * win counts built from the first 80% of judged pairs, folded with
    * the rest — the same maintained state the BT leaderboard reads,
    * held to q257's VERBATIM oracle (per-pair n and wins are SUMs
    * over the directed counts). */
  private def q303IncrementalWins(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Preference
    def counts(pred: Column): DataFrame = Preference.winCountsOf(
      preferencePairsSlice(s, dir, pred), "winner", "loser", "q303")
    Preference.pairwiseWinMatrixFromCounts(
      Preference.foldWinCounts(
        counts(pmod(col("a.event_id"), lit(20L)) < 16L),
        counts(pmod(col("a.event_id"), lit(20L)) >= 16L)))
  }

  // ---------------------------------------------------------------- q304
  /** Streaming win-matrix monitor ([[graft.operators.Preference
    * .winMatrixMonitor]]): the comparison feed micro-batched,
    * the live head-to-head table read off the accumulated win counts
    * — held to q257's verbatim oracle; one maintained state now
    * serves the leaderboard AND the matrix. */
  private def q304StreamWins(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.monitor(
        Preference.winMatrixMonitor("winner", "loser"),
        preferencePairs(s, dir))

  /** Shared fixture of the Pearson/OLS family (q305–q310): character
    * count vs whitespace token count per document — the q192 signal
    * pair, now asked for the LINE instead of the rank agreement. The
    * explicit null filter mirrors the oracle's WHERE (the operator
    * would drop the same rows internally). */
  private def momentDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(col("n_chars").isNotNull && col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("double").as("x"),
        graft.functions.TextFunctions.tokenCount(col("text"))
          .cast("double").as("y"))

  // ---------------------------------------------------------------- q305
  /** Pearson correlation + OLS trend ([[graft.operators.Moments
    * .pearsonOls]]): does character count predict token count, and
    * with what line? The linear companion to q192's Spearman — moments
    * are exact 12dp-decimal sums (integer-valued inputs: exact
    * outright), the uncentered closed forms replay
    * operation-for-operation in the oracle, readouts gate at 6. */
  private def q305PearsonOls(s: SparkSession, dir: String): DataFrame =
    graft.operators.Moments.pearsonOls(momentDocs(s, dir), "x", "y")

  // ---------------------------------------------------------------- q306
  /** Incremental moment maintenance ([[graft.operators.Moments
    * .foldMomentState]]): the moment state built from even doc ids,
    * folded with the odd — held to q305's VERBATIM oracle (all five
    * moments merge by SUM; the fold provably cannot move a digit). */
  private def q306IncrementalMoments(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Moments
    val docs = momentDocs(s, dir)
    Moments.bivariateFromMoments(
      Moments.foldMomentState(
        Moments.momentState(
          docs.filter(pmod(col("doc_id"), lit(2L)) === 0L), "x", "y"),
        Moments.momentState(
          docs.filter(pmod(col("doc_id"), lit(2L)) === 1L), "x", "y")))
  }

  // ---------------------------------------------------------------- q307
  /** Streaming Pearson/OLS monitor ([[graft.operators.Moments
    * .momentsMonitor]]): the (x, y) feed micro-batched into a
    * versioned ONE-ROW moment state — held to q305's verbatim
    * oracle. */
  private def q307StreamMoments(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.monitor(
        Moments.momentsMonitor("x", "y"),
        momentDocs(s, dir).select(col("x"), col("y")))

  // ---------------------------------------------------------------- q308
  /** Per-language Pearson/OLS ([[graft.operators.Moments
    * .pearsonOlsByGroup]]): the chars-per-token line PER LANGUAGE —
    * the drill-down under q305 (script density differs by language;
    * the corpus-wide slope is a mixture). Group-keyed moment state,
    * in-plan readout — group cardinality unbounded. */
  private def q308OlsByLang(s: SparkSession, dir: String): DataFrame =
    graft.operators.Moments.pearsonOlsByGroup(
      momentDocs(s, dir), "lang", "x", "y")

  // ---------------------------------------------------------------- q309
  /** Incremental PER-GROUP moment maintenance ([[graft.operators
    * .Moments.foldGroupMomentState]]): per-language moment states
    * from even doc ids folded with the odd — held to q308's VERBATIM
    * oracle. */
  private def q309IncrementalGroupMoments(
      s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Moments
    val docs = momentDocs(s, dir)
    Moments.bivariateByGroupFromMoments(
      Moments.foldGroupMomentState(
        Moments.groupMomentState(
          docs.filter(pmod(col("doc_id"), lit(2L)) === 0L),
          "lang", "x", "y"),
        Moments.groupMomentState(
          docs.filter(pmod(col("doc_id"), lit(2L)) === 1L),
          "lang", "x", "y")))
  }

  // ---------------------------------------------------------------- q310
  /** Streaming per-language Pearson/OLS monitor ([[graft.operators.Moments
    * .groupMomentsMonitor]]): the (lang, x, y) feed
    * micro-batched into group-keyed moment state — held to q308's
    * verbatim oracle. */
  private def q310StreamGroupMoments(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.monitor(
        Moments.groupMomentsMonitor("lang", "x", "y"),
        momentDocs(s, dir).select(col("lang"), col("x"), col("y")))

  // ---------------------------------------------------------------- q311
  /** Exact 1-Wasserstein drift ([[graft.operators.Profile
    * .wassersteinDistance]]): the INTEGRAL of the CDF gap q196's KS
    * takes its supremum of, over the same before/after event-value
    * split — the drift number that weighs how FAR mass moved.
    * Cumulatives and the value lag ride the range-partitioned
    * machinery; terms are 12dp-decimal-summed; readout at 6. */
  private def q311WassersteinDrift(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val splitUs = 1705363200000000L
    graft.operators.Profile.wassersteinDistance(
      ev.filter(unix_micros(col("ts")) < splitUs),
      ev.filter(unix_micros(col("ts")) >= splitUs), "value")
  }

  // ---------------------------------------------------------------- q312
  /** Streaming 1-Wasserstein drift ([[graft.operators.Profile
    * .wassersteinDriftMonitor]]): q311's statistic with the monitored
    * slice as a file stream folding the SAME maintained ECDF count
    * state as the KS/quantile monitors — held to q311's VERBATIM
    * oracle. The drift matrix now closes PSI / categorical / KS / W1,
    * each batch+stream. */
  private def q312StreamWasserstein(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val splitUs = 1705363200000000L
    graft.streaming.StreamGate.monitor(
        Profile.wassersteinDriftMonitor(
          ev.filter(unix_micros(col("ts")) < splitUs), "value"),
        ev.filter(unix_micros(col("ts")) >= splitUs))
  }

  // ---------------------------------------------------------------- q313
  /** Jensen–Shannon categorical drift ([[graft.operators.Profile
    * .jsDivergence]]): the bounded, symmetric divergence of the
    * order-priority mix across q180's time split — the eps-free alarm
    * next to PSI (a category on one side only contributes finite
    * ½·p·ln2, where PSI must clamp). Terms 12dp-decimal-summed,
    * readout at 6. */
  private def q313JsDivergence(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val split = lit("1996-01-01").cast("timestamp_ntz")
    graft.operators.Profile.jsDivergence(
      orders.filter(col("o_orderdate") < split),
      orders.filter(col("o_orderdate") >= split),
      "o_orderpriority")
  }

  // ---------------------------------------------------------------- q314
  /** Streaming Jensen–Shannon drift ([[graft.operators.Profile
    * .jsDivergenceMonitor]]): q313's divergence with the monitored
    * slice as a file stream folding vocabulary-bounded category
    * counts — held to q313's VERBATIM oracle. */
  private def q314StreamJsd(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val split = lit("1996-01-01").cast("timestamp_ntz")
    graft.streaming.StreamGate.monitor(
        Profile.jsDivergenceMonitor(orders.filter(col("o_orderdate") < split),
          "o_orderpriority"),
        orders.filter(col("o_orderdate") >= split))
  }

  // ---------------------------------------------------------------- q315
  /** Optimal operating point ([[graft.operators.Eval
    * .optimalThreshold]]): q148's NB gate, now swept over EVERY
    * distinct score (plus the predict-everything sentinel) for the
    * F1-maximizing threshold — the curve reader q148 leaves to the
    * user, as one argmax row. Cells are exact longs off two
    * range-partitioned prefix sums; the objective is one division of
    * exact longs; ties break to the smallest threshold. The oracle
    * retrains the model and replays the full sweep. */
  private def q315OptimalThreshold(s: SparkSession, dir: String): DataFrame =
    graft.operators.Eval.optimalThreshold(nbScored(s, dir), "label", "sc")

  // ---------------------------------------------------------------- q316
  /** Mann–Whitney U location test ([[graft.operators.Profile
    * .mannWhitney]]): did event values SYSTEMATICALLY shift across
    * q196's time split? — the nonparametric answer next to the
    * KS/W1/CvM distribution gaps, with Cliff's delta as the effect
    * size. 2U stays an exact integer through decimals; the
    * tie-corrected z replays operation-for-operation. */
  private def q316MannWhitney(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val splitUs = 1705363200000000L
    graft.operators.Profile.mannWhitney(
      ev.filter(unix_micros(col("ts")) < splitUs),
      ev.filter(unix_micros(col("ts")) >= splitUs), "value")
  }

  // ---------------------------------------------------------------- q317
  /** Streaming Mann–Whitney monitor ([[graft.operators.Profile
    * .mannWhitneyMonitor]]): q316's test with the monitored slice
    * folding the shared ECDF count state — held to q316's VERBATIM
    * oracle. */
  private def q317StreamMannWhitney(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val splitUs = 1705363200000000L
    graft.streaming.StreamGate.monitor(
        Profile.mannWhitneyMonitor(ev.filter(unix_micros(col("ts")) < splitUs),
          "value"),
        ev.filter(unix_micros(col("ts")) >= splitUs))
  }

  // ---------------------------------------------------------------- q318
  /** Cramér–von Mises drift ([[graft.operators.Profile
    * .cramerVonMises]]): the L2 member of the drift trio over q196's
    * split — KS takes the gap's sup (q196), W1 its |·| integral
    * (q311), this its SQUARE against the pooled distribution. */
  private def q318CvmDrift(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val splitUs = 1705363200000000L
    graft.operators.Profile.cramerVonMises(
      ev.filter(unix_micros(col("ts")) < splitUs),
      ev.filter(unix_micros(col("ts")) >= splitUs), "value")
  }

  // ---------------------------------------------------------------- q319
  /** Streaming Cramér–von Mises monitor ([[graft.operators.Profile
    * .cvmDriftMonitor]]): q318 with the monitored slice folding the
    * shared ECDF count state — held to q318's VERBATIM oracle. One
    * maintained grid now serves KS/W1/CvM/Mann–Whitney/quantiles/
    * Gini/HHI, batch + stream. */
  private def q319StreamCvm(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val splitUs = 1705363200000000L
    graft.streaming.StreamGate.monitor(
        Profile.cvmDriftMonitor(ev.filter(unix_micros(col("ts")) < splitUs),
          "value"),
        ev.filter(unix_micros(col("ts")) >= splitUs))
  }

  // ---------------------------------------------------------------- q320
  /** Exact average precision ([[graft.operators.Eval
    * .averagePrecision]]): the PR-curve area under q148's NB gate —
    * the rare-positive quality number next to q149-style ROC (ROC
    * flatters when negatives dominate; AP only credits positives).
    * Tie-consistent block sweep off the score grid; the oracle
    * retrains the model and replays every block term. */
  private def q320AveragePrecision(s: SparkSession, dir: String): DataFrame =
    graft.operators.Eval.averagePrecision(nbScored(s, dir), "label", "sc")

  // ---------------------------------------------------------------- q321
  /** PER-GROUP exact KS drift ([[graft.operators.Profile.ksByGroup]]):
    * q196's alarm drilled into each event type — a drift confined to
    * one slice dilutes linearly in the pooled statistic, so the
    * per-type sup-gap is the actionable readout. Group-local CDFs off
    * ONE global range-partitioned prefix sum per side (the
    * global-prefix − group-offset trick), group totals in-plan. */
  private def q321GroupKs(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val splitUs = 1705363200000000L
    graft.operators.Profile.ksByGroup(
      ev.filter(unix_micros(col("ts")) < splitUs),
      ev.filter(unix_micros(col("ts")) >= splitUs),
      "event_type", "value")
  }

  // ---------------------------------------------------------------- q322
  /** Streaming per-group KS monitor ([[graft.operators.Profile
    * .groupKsDriftMonitor]]): q321 with the monitored slice folding
    * group-keyed value counts — held to q321's VERBATIM oracle. */
  private def q322StreamGroupKs(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val splitUs = 1705363200000000L
    graft.streaming.StreamGate.monitor(
        Profile.groupKsDriftMonitor(
          ev.filter(unix_micros(col("ts")) < splitUs), "event_type", "value"),
        ev.filter(unix_micros(col("ts")) >= splitUs))
  }

  // ---------------------------------------------------------------- q323
  /** Lag-1 autocorrelation of the daily value series ([[graft
    * .operators.Moments.autocorrelation]]): does yesterday's total
    * predict today's? — [[graft.operators.General.withPrevValue]]'s
    * distributed lag pairing composed with the q305 moment machinery
    * (`pearson_r6` = the autocorrelation, `slope6`/`intercept6` the
    * AR(1) fit). Daily sums gate through 12dp decimals so the series
    * itself is order-exact before the pairing. */
  private def q323DailyAutocorr(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(sum(round(col("value"), 12).cast("decimal(38,12)"))
        .cast("double").as("dv"))
    graft.operators.Moments.autocorrelation(daily, Seq("day"), "dv")
  }

  // ---------------------------------------------------------------- q324
  /** Per-group 1-Wasserstein drift ([[graft.operators.Profile
    * .wassersteinByGroup]]): q311's transport integral drilled into
    * each event type — the per-slice drift pair next to q321's KS
    * (not just WHETHER each type drifted, but how FAR its mass
    * moved). Group-local prefixes + boundary-guarded lags, all off
    * one global range-partitioned machinery. */
  private def q324GroupWasserstein(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val splitUs = 1705363200000000L
    graft.operators.Profile.wassersteinByGroup(
      ev.filter(unix_micros(col("ts")) < splitUs),
      ev.filter(unix_micros(col("ts")) >= splitUs),
      "event_type", "value")
  }

  // ---------------------------------------------------------------- q325
  /** Streaming per-group 1-Wasserstein monitor ([[graft.operators.Profile
    * .groupWassersteinDriftMonitor]]): q324 with the
    * monitored slice folding the shared group-keyed count state —
    * held to q324's VERBATIM oracle. */
  private def q325StreamGroupWasserstein(
      s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val splitUs = 1705363200000000L
    graft.streaming.StreamGate.monitor(
        Profile.groupWassersteinDriftMonitor(
          ev.filter(unix_micros(col("ts")) < splitUs), "event_type", "value"),
        ev.filter(unix_micros(col("ts")) >= splitUs))
  }

  // ---------------------------------------------------------------- q326
  /** CUSUM change-point scan ([[graft.operators.Stats
    * .changePointScan]]): WHEN did the daily value level shift? —
    * the root-cause pointer under the drift alarms (q196/q311 answer
    * whether; this answers where in time). Daily sums fixed-pointed
    * through exact decimals, the excursion argmax an exact integer
    * compare with earliest-k ties. */
  private def q326ChangePoint(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")
        .as("day"))
      .agg(sum(round(col("value"), 12).cast("decimal(38,12)"))
        .cast("double").as("dv"))
    graft.operators.Stats.changePointScan(daily, Seq("day"), "dv")
  }

  // ---------------------------------------------------------------- q327
  /** Per-type lag-1 autocorrelation ([[graft.operators.Moments
    * .autocorrelationByGroup]]): is the purchase series sticky while
    * the click series is memoryless? — q323's pairing run per event
    * type with boundary-guarded lags (the last day of one type never
    * pairs into the next), per-group moment readout in-plan. */
  private def q327GroupAutocorr(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).as("day"))
      .agg(sum(round(col("value"), 12).cast("decimal(38,12)"))
        .cast("double").as("dv"))
    graft.operators.Moments.autocorrelationByGroup(
      daily, "event_type", Seq("day"), "dv")
  }

  // ---------------------------------------------------------------- q328
  /** Per-type CUSUM change-point scan ([[graft.operators.Stats
    * .changePointScanByGroup]]): each event type's OWN level-shift
    * day — the per-slice root-cause pointer under q326 (a shift in
    * one type dilutes in the pooled series). Within-group positions
    * and prefix sums off the skew-proof global machinery; the
    * per-group argmax is a max_by over exact-integer excursions. */
  private def q328GroupChangePoint(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(sum(round(col("value"), 12).cast("decimal(38,12)"))
        .cast("double").as("dv"))
    graft.operators.Stats.changePointScanByGroup(
      daily, "event_type", Seq("day"), "dv")
  }

  // ---------------------------------------------------------------- q329
  /** Streaming CUSUM change-point monitor ([[graft.operators.Stats
    * .changePointMonitor]]): q326's scan with the
    * event feed micro-batched into per-day exact-decimal sum state —
    * held to q326's VERBATIM oracle (daily sums fold by SUM; the
    * double cast happens once at readout). */
  private def q329StreamChangePoint(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.monitor(
        Stats.changePointMonitor("day", "value"),
        Tables.events(s, dir).select(
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
          col("value")))

  // ---------------------------------------------------------------- q330
  /** Benford first-digit audit ([[graft.operators.Profile
    * .benfordAudit]]): the order-amount column against Benford's law
    * — the classic fabricated-numbers screen for a monetary field,
    * with structural zeros (digits the data never hits) riding a
    * literal grid. Digit extraction is decimal-string-based so no
    * log10 boundary ulp can flip a decade; expected probabilities are
    * the identical ln-expression on both engines. */
  private def q330Benford(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.benfordAudit(
      Tables.orders(s, dir), "o_totalprice")

  // ---------------------------------------------------------------- q331
  /** Per-status Jensen–Shannon drift ([[graft.operators.Profile
    * .jsDivergenceByGroup]]): q313's divergence drilled into each
    * order status — which slice's priority mix actually moved across
    * the time split. Group totals in-plan, per-group exact decimal
    * term sums. */
  private def q331GroupJsd(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val split = lit("1996-01-01").cast("timestamp_ntz")
    graft.operators.Profile.jsDivergenceByGroup(
      orders.filter(col("o_orderdate") < split),
      orders.filter(col("o_orderdate") >= split),
      "o_orderstatus", "o_orderpriority")
  }

  // ---------------------------------------------------------------- q332
  /** Streaming per-group JSD monitor ([[graft.operators.Profile
    * .groupJsDivergenceMonitor]]): q331 with the monitored slice
    * folding group-keyed category counts — held to q331's VERBATIM
    * oracle. */
  private def q332StreamGroupJsd(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val split = lit("1996-01-01").cast("timestamp_ntz")
    graft.streaming.StreamGate.monitor(
        Profile.groupJsDivergenceMonitor(
          orders.filter(col("o_orderdate") < split), "o_orderstatus",
          "o_orderpriority"),
        orders.filter(col("o_orderdate") >= split))
  }

  // ---------------------------------------------------------------- q333
  /** Hellinger drift ([[graft.operators.Profile.hellingerDistance]]):
    * the metric-space member of the categorical drift family over
    * q180's split — a TRUE metric bounded [0,1] next to PSI's
    * unbounded surprise and JSD's divergence, with the Bhattacharyya
    * coefficient reported alongside. */
  private def q333Hellinger(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val split = lit("1996-01-01").cast("timestamp_ntz")
    graft.operators.Profile.hellingerDistance(
      orders.filter(col("o_orderdate") < split),
      orders.filter(col("o_orderdate") >= split),
      "o_orderpriority")
  }

  // ---------------------------------------------------------------- q334
  /** Streaming Hellinger monitor ([[graft.operators.Profile
    * .hellingerMonitor]]): q333 over the same folded category-count
    * state the JSD monitor maintains — held to q333's VERBATIM
    * oracle. */
  private def q334StreamHellinger(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val split = lit("1996-01-01").cast("timestamp_ntz")
    graft.streaming.StreamGate.monitor(
        Profile.hellingerMonitor(orders.filter(col("o_orderdate") < split),
          "o_orderpriority"),
        orders.filter(col("o_orderdate") >= split))
  }

  // ---------------------------------------------------------------- q335
  /** Quantile-shift drift report ([[graft.operators.Profile
    * .quantileShift]]): WHERE along the value distribution q196's
    * drift landed — p50 vs p99 movement is the story a single KS/W1
    * number averages away. Both sides run the shared discrete-rank
    * arithmetic; shifts are one subtraction of verbatim-input
    * doubles. */
  private def q335QuantileShift(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val splitUs = 1705363200000000L
    graft.operators.Profile.quantileShift(
      ev.filter(unix_micros(col("ts")) < splitUs),
      ev.filter(unix_micros(col("ts")) >= splitUs),
      "value", Seq(0.25, 0.5, 0.75, 0.9, 0.99))
  }

  // ---------------------------------------------------------------- q336
  /** Streaming quantile-shift monitor ([[graft.operators.Profile
    * .quantileShiftMonitor]]): q335 with the monitored slice folding
    * the shared ECDF count state — held to q335's VERBATIM oracle. */
  private def q336StreamQuantileShift(
      s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val splitUs = 1705363200000000L
    graft.streaming.StreamGate.monitor(
        Profile.quantileShiftMonitor(
          ev.filter(unix_micros(col("ts")) < splitUs), "value",
          Seq(0.25, 0.5, 0.75, 0.9, 0.99)),
        ev.filter(unix_micros(col("ts")) >= splitUs))
  }

  // ---------------------------------------------------------------- q337
  /** One-pass correlation matrix ([[graft.operators.Moments
    * .correlationMatrix]]): every pair among three document signals —
    * character count, token count, uppercase count — in one corpus
    * pass, pairwise-complete. The profile-stage redundancy readout
    * before feature selection; the oracle replays each pair's
    * conditional moment sums. */
  private def q337CorrMatrix(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val docs = Tables.documents(s, dir).select(
      col("n_chars").cast("double").as("n_chars"),
      when(col("text").isNotNull,
        TextFunctions.tokenCount(col("text")).cast("double")).as("n_tokens"),
      when(col("text").isNotNull,
        length(regexp_replace(col("text"), "[^A-Z]", "")).cast("double"))
        .as("n_upper"))
    graft.operators.Moments.correlationMatrix(
      docs, Seq("n_chars", "n_tokens", "n_upper"))
  }

  // ---------------------------------------------------------------- q338
  /** Per-group Mann–Whitney U ([[graft.operators.Profile
    * .mannWhitneyByGroup]]): which event type's values SHIFTED, and
    * which way — the per-slice location test with Cliff's delta,
    * completing the per-group drift matrix (KS whether / W1 how far /
    * CvM shape / MWU direction). 2U exact per group; readouts fully
    * in-plan. */
  private def q338GroupMannWhitney(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val splitUs = 1705363200000000L
    graft.operators.Profile.mannWhitneyByGroup(
      ev.filter(unix_micros(col("ts")) < splitUs),
      ev.filter(unix_micros(col("ts")) >= splitUs),
      "event_type", "value")
  }

  // ---------------------------------------------------------------- q339
  /** Streaming per-group Mann–Whitney monitor ([[graft.operators.Profile
    * .groupMannWhitneyMonitor]]): q338 folding the shared
    * group count state — held to q338's VERBATIM oracle. */
  private def q339StreamGroupMwu(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val splitUs = 1705363200000000L
    graft.streaming.StreamGate.monitor(
        Profile.groupMannWhitneyMonitor(
          ev.filter(unix_micros(col("ts")) < splitUs), "event_type", "value"),
        ev.filter(unix_micros(col("ts")) >= splitUs))
  }

  // ---------------------------------------------------------------- q340
  /** Per-group Cramér–von Mises ([[graft.operators.Profile
    * .cramerVonMisesByGroup]]): each event type's squared CDF gap
    * against its own pooled distribution — the shape-sensitive member
    * of the per-slice drift matrix. */
  private def q340GroupCvm(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val splitUs = 1705363200000000L
    graft.operators.Profile.cramerVonMisesByGroup(
      ev.filter(unix_micros(col("ts")) < splitUs),
      ev.filter(unix_micros(col("ts")) >= splitUs),
      "event_type", "value")
  }

  // ---------------------------------------------------------------- q341
  /** Streaming per-group CvM monitor ([[graft.operators.Profile
    * .groupCvmDriftMonitor]]): q340 folding the shared group count
    * state — held to q340's VERBATIM oracle. The per-slice drift
    * matrix closes batch + stream on ONE maintained group grid. */
  private def q341StreamGroupCvm(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val splitUs = 1705363200000000L
    graft.streaming.StreamGate.monitor(
        Profile.groupCvmDriftMonitor(
          ev.filter(unix_micros(col("ts")) < splitUs), "event_type", "value"),
        ev.filter(unix_micros(col("ts")) >= splitUs))
  }

  // ---------------------------------------------------------------- q342
  /** Token-mass-weighted Pearson/OLS ([[graft.operators.Moments
    * .weightedPearsonOls]]): does character count predict uppercase
    * count where the TOKENS are — the q227 weighted-quantile story
    * applied to the moment family (a million short docs cannot
    * outvote the token mass). Weights are loudly-integral token
    * counts; the readout is the shared closed form with n = total
    * mass. */
  private def q342WeightedOls(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val docs = Tables.documents(s, dir)
      .filter(col("n_chars").isNotNull && col("text").isNotNull)
      .select(col("n_chars").cast("double").as("x"),
        length(regexp_replace(col("text"), "[^A-Z]", ""))
          .cast("double").as("y"),
        TextFunctions.tokenCount(col("text")).cast("long").as("w"))
    graft.operators.Moments.weightedPearsonOls(docs, "x", "y", "w")
  }

  // ---------------------------------------------------------------- q343
  /** Per-status Hellinger drift ([[graft.operators.Profile
    * .hellingerByGroup]]): q333's metric drilled into each order
    * status over the same group-keyed category counts the per-group
    * JSD reads — one maintained state, two metric readouts. */
  private def q343GroupHellinger(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val split = lit("1996-01-01").cast("timestamp_ntz")
    graft.operators.Profile.hellingerByGroup(
      orders.filter(col("o_orderdate") < split),
      orders.filter(col("o_orderdate") >= split),
      "o_orderstatus", "o_orderpriority")
  }

  // ---------------------------------------------------------------- q344
  /** Streaming per-group Hellinger monitor ([[graft.operators.Profile
    * .groupHellingerMonitor]]): q343 folding the shared
    * group category-count state — held to q343's VERBATIM oracle. */
  private def q344StreamGroupHellinger(
      s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val split = lit("1996-01-01").cast("timestamp_ntz")
    graft.streaming.StreamGate.monitor(
        Profile.groupHellingerMonitor(
          orders.filter(col("o_orderdate") < split), "o_orderstatus",
          "o_orderpriority"),
        orders.filter(col("o_orderdate") >= split))
  }

  // ---------------------------------------------------------------- q345
  /** Per-priority Benford audit ([[graft.operators.Profile
    * .benfordAuditByGroup]]): q330's fabricated-numbers screen
    * drilled into each order priority — a clean corpus can hide one
    * cooked slice. Per-group structural zeros ride an explode (never
    * a literal-grid cross join); the digit extraction and expected
    * law are q330's verbatim. */
  private def q345GroupBenford(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.benfordAuditByGroup(
      Tables.orders(s, dir), "o_orderpriority", "o_totalprice")

  // ---------------------------------------------------------------- q346
  /** Per-language optimal threshold ([[graft.operators.Eval
    * .optimalThresholdByGroup]]): the token-count cutoff that best
    * predicts the 100-char length gate PER LANGUAGE — script density
    * differs by language (q308's slope story), so one global token
    * threshold over- or under-filters minority scripts. Group-local
    * sweeps off one prefix sum per class, argmax per group via
    * max_by, smallest-threshold ties. */
  private def q346GroupThreshold(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val docs = Tables.documents(s, dir)
      .filter(col("text").isNotNull && col("n_chars").isNotNull)
      .select(col("lang"),
        (col("n_chars") >= 100L).as("label"),
        TextFunctions.tokenCount(col("text")).cast("double").as("sc"))
    graft.operators.Eval.optimalThresholdByGroup(
      docs, "lang", "label", "sc")
  }

  // ---------------------------------------------------------------- q347
  /** Per-type quantile-shift report ([[graft.operators.Profile
    * .quantileShiftByGroup]]): whose p99 moved — q335's
    * where-along-the-distribution readout drilled into each event
    * type, the last per-slice completion of the drift matrix. Both
    * sides run the shared per-group global-prefix rank arithmetic. */
  private def q347GroupQuantileShift(
      s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val splitUs = 1705363200000000L
    graft.operators.Profile.quantileShiftByGroup(
      ev.filter(unix_micros(col("ts")) < splitUs),
      ev.filter(unix_micros(col("ts")) >= splitUs),
      "event_type", "value", Seq(0.5, 0.9, 0.99))
  }

  // ---------------------------------------------------------------- q348
  /** Streaming per-type quantile-shift monitor ([[graft.operators.Profile
    * .groupQuantileShiftMonitor]]): q347 folding the shared
    * group count state — held to q347's VERBATIM oracle. */
  private def q348StreamGroupQuantileShift(
      s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val splitUs = 1705363200000000L
    graft.streaming.StreamGate.monitor(
        Profile.groupQuantileShiftMonitor(
          ev.filter(unix_micros(col("ts")) < splitUs), "event_type", "value",
          Seq(0.5, 0.9, 0.99)),
        ev.filter(unix_micros(col("ts")) >= splitUs))
  }

  // ---------------------------------------------------------------- q351
  /** Per-language correlation matrix ([[graft.operators.Moments
    * .correlationMatrixByGroup]]): q337's three-signal redundancy
    * readout sliced by language — the check that a correlation seen
    * in the pooled corpus isn't just the majority script's (Simpson's
    * trap). One group-keyed aggregation carries all pairs' moments. */
  private def q351GroupCorrMatrix(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val docs = Tables.documents(s, dir).select(
      col("lang"),
      col("n_chars").cast("double").as("n_chars"),
      when(col("text").isNotNull,
        TextFunctions.tokenCount(col("text")).cast("double")).as("n_tokens"),
      when(col("text").isNotNull,
        length(regexp_replace(col("text"), "[^A-Z]", "")).cast("double"))
        .as("n_upper"))
    graft.operators.Moments.correlationMatrixByGroup(
      docs, "lang", Seq("n_chars", "n_tokens", "n_upper"))
  }

  // ---------------------------------------------------------------- q352
  /** CUPED covariate-adjusted experiment readout ([[graft.operators
    * .Experiment.cupedReport]]): per-user pre-period value as the
    * covariate for the post-period outcome, arms assigned by the
    * deterministic portable hash (q199's machinery, fresh salt) —
    * θ from the pooled moment state, adjusted means with normal CIs
    * and the raw-vs-adjusted variance shrink in the report. The
    * oracle replays the hash, θ, and the adjustment term-for-term. */
  private def q352CupedReport(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Experiment
    val splitUs = 1705363200000000L
    def side(pre: Boolean) = sum(when(
      if (pre) unix_micros(col("ts")) < splitUs
      else unix_micros(col("ts")) >= splitUs,
      round(col("value"), 12).cast("decimal(38,12)"))).cast("double")
    val users = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .groupBy("user_id")
      .agg(side(pre = true).as("pre_value"),
        side(pre = false).as("post_value"))
    val assigned = Experiment.assignArms(users, "user_id", salt = "cuped1",
      arms = Seq(("control", 0.5), ("treat", 0.5)))
    Experiment.cupedReport(assigned, "arm", "post_value", "pre_value")
  }

  // ---------------------------------------------------------------- q353
  /** The ordinal-score panel shared by q353/q354: five raters score
    * each document 1–5 (base = n_chars%5+1) with hash-noised ±1
    * shifts clamped to the scale, under ~70% varying participation —
    * numeric GRADED labels for the metric alpha family, every
    * decision integer arithmetic on a portable hash so both engines
    * derive the identical panel. */
  private def ordinalRatings(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val r = col("rater_i")
    val key = concat(r.cast("string"), lit(":"),
      col("doc_id").cast("string"))
    val h = pmod(TextFunctions.portableTokenHash32(
      concat(lit("ord:"), key)), lit(100L))
    val shift = when(h < 15, lit(-1L)).when(h >= 85, lit(1L))
      .otherwise(lit(0L))
    val score = greatest(lit(1L),
      least(lit(5L), col("n_chars") % 5L + lit(1L) + shift))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        explode(sequence(lit(0), lit(4))).as("rater_i"))
      .filter(pmod(TextFunctions.portableTokenHash32(
        concat(lit("ordp:"), key)), lit(100L)) < 70L)
      .select(col("doc_id"),
        concat(lit("r"), r.cast("string")).as("rater"),
        score.as("score"))
  }

  /** Interval Krippendorff's alpha ([[graft.operators.Annotate
    * .krippendorffAlphaMetric]], squared distance): the graded
    * agreement readout over the 1–5 panel — a 1-vs-5 miss costs 16×
    * a 1-vs-2 miss, the distinction the nominal alpha (q256) cannot
    * see. Per-item moment identities, no label-pair join; oracle
    * replays the panel, both disagreement sums, and the one ratio. */
  private def q353IntervalAlpha(s: SparkSession, dir: String): DataFrame =
    graft.operators.Annotate.krippendorffAlphaMetric(
      ordinalRatings(s, dir), "doc_id", "rater", "score", "interval")

  // ---------------------------------------------------------------- q354
  /** Linear Krippendorff's alpha ([[graft.operators.Annotate
    * .krippendorffAlphaMetric]], absolute distance): the same panel
    * under the equally-spaced ordinal reading — item-partitioned
    * prefix folds over the rating cells, marginal prefix fold over
    * the 5-level scale. */
  private def q354LinearAlpha(s: SparkSession, dir: String): DataFrame =
    graft.operators.Annotate.krippendorffAlphaMetric(
      ordinalRatings(s, dir), "doc_id", "rater", "score", "linear")

  // ---------------------------------------------------------------- q355
  /** Kaplan–Meier time-to-conversion curve ([[graft.operators.Events
    * .kaplanMeier]]): duration = whole days from a user's first event
    * to their 14th purchase (q199's conversion bar), RIGHT-CENSORED
    * at last-seen for users who never reach it (~54% at sf0.01 — a
    * genuinely mixed curve, the case q93's fixed-offset cohort matrix
    * biases by counting censored users as churned). Risk sets and the
    * ln-product ride the range-partitioned prefix machinery; the
    * oracle replays risk sets, fixed-point ln terms, and the
    * exponentiated product. */
  private def q355KaplanMeier(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.kaplanMeier(
      survivalSubjects(s, dir), "dur_days", "observed")

  // ---------------------------------------------------------------- q356
  /** The survival fixture shared by q355–q357: one subject row per
    * user — time-to-14th-purchase in whole days from the user's first
    * event, right-censored at last-seen when the bar is never reached
    * (the sorted per-user purchase-micros array makes the 14th order
    * statistic engine-exact; the ANSI-fatal element_at is guarded by
    * the lazy size check), plus the user's FIRST event type
    * (deterministic string-min over a zero-padded (micros, type)
    * key — both engines take the same byte min) and the even/odd
    * null-split calibration arm. */
  private def survivalSubjects(s: SparkSession, dir: String): DataFrame = {
    val micros = unix_micros(col("ts"))
    val converted = size(col("__ps")) >= 14
    Tables.events(s, dir).groupBy("user_id").agg(
        min(micros).as("__f"), max(micros).as("__l"),
        sort_array(collect_list(
          when(col("event_type") === "purchase", micros))).as("__ps"),
        regexp_extract(min(concat(
          lpad(micros.cast("string"), 20, "0"),
          lit(":"), col("event_type"))), ":(.*)", 1).as("first_type"))
      .select(col("user_id"), col("first_type"),
        when(col("user_id") % 2 === 0, lit("even")).otherwise(lit("odd"))
          .as("parity"),
        converted.as("observed"),
        when(converted,
          floor((element_at(col("__ps"), 14) - col("__f")).cast("double") /
            lit(8.64e10)))
          .otherwise(
            floor((col("__l") - col("__f")).cast("double") / lit(8.64e10)))
          .as("dur_days"))
  }

  /** Per-cohort Kaplan–Meier ([[graft.operators.Events
    * .kaplanMeierByGroup]]): one retention curve per first-event
    * type — the per-slice completion of q355, group-local risk sets
    * and ln-products off the shared range-partitioned prefix
    * machinery with first-row carry recovery. */
  private def q356GroupKaplanMeier(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.kaplanMeierByGroup(
      survivalSubjects(s, dir), "first_type", "dur_days", "observed")

  // ---------------------------------------------------------------- q357
  /** Two-sample log-rank test ([[graft.operators.Events
    * .logRankTest]]) on the even/odd user split — which this
    * synthetic generator turns out to correlate with purchase
    * propensity: the test reads z ≈ −2.9 at sf0.01 (even users
    * convert FASTER than the pooled risk sets predict), exactly the
    * censoring-honest difference a naive mean-duration comparison
    * muddles. The true-null negative control lives in the spec
    * (identical groups read exactly 0). Hypergeometric terms as
    * 12dp-exact decimal sums over the pooled duration grid. */
  private def q357LogRank(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.logRankTest(
      survivalSubjects(s, dir), "parity", "dur_days", "observed")

  // ---------------------------------------------------------------- q358
  /** Per-domain row cap ([[graft.operators.Corpus.capGroupShare]]
    * over [[graft.functions.UrlFunctions.registeredDomain]]): no
    * registered domain keeps more than 1% of the corpus (floored at
    * one survivor each) — the document-level mixture control next to
    * the weight-level recipe, survivors the smallest portable hashes
    * so the kept set is rerun- and engine-stable. */
  private def q358DomainCap(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.UrlFunctions
    val withDom = q349UrlCorpus(s, dir).select(col("doc_id"),
      UrlFunctions.registeredDomain(
        UrlFunctions.urlHost(col("url")), Q350Suffixes).as("domain"))
    graft.operators.Corpus
      .capGroupShare(withDom, Seq("domain"), "doc_id", 0.01, "cap1")
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc_id"))
      .orderBy("domain")
  }

  // ---------------------------------------------------------------- q359
  /** Incremental URL-ledger dedup ([[graft.operators.Dedup
    * .incrementalKeyDedup]]): q349's corpus arriving as two
    * id-ordered shards — the first shard's winners seed a keys-only
    * ledger, the second ingests against it without rescanning shard
    * one; because the split is id-ordered, the union of winners is
    * PROVABLY the batch dedup and is held to q349's VERBATIM oracle
    * (the q131/q133 maintained-family pattern). */
  private def q359IncUrlDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.UrlFunctions
    val all = q349UrlCorpus(s, dir).select(col("doc_id"),
      UrlFunctions.urlNormalize(col("url")).as("url"))
    val w1 = Dedup.exactDedupIds(
      all.filter(col("doc_id") < 400L), Seq("url"), "doc_id")
    val kept = Dedup.incrementalKeyDedup(
      all.filter(col("doc_id") >= 400L), "url", "doc_id",
      w1.select("url"), "url")
    w1.unionByName(kept)
      .select(col("url"), col("doc_id").as("first_doc_id"))
      .orderBy("url")
  }

  // ---------------------------------------------------------------- q360
  /** Incremental Kaplan–Meier ([[graft.operators.Events
    * .foldSurvivalCells]] + [[graft.operators.Events
    * .kaplanMeierFromCells]]): the duration-grid cell state built
    * from the pre-split subjects, kept current by folding the
    * post-split shard's cells — subjects are never rescanned, and
    * because counts merge by SUM the folded curve is held to q355's
    * VERBATIM full-recompute oracle (the q131/q133 pattern). */
  private def q360IncrementalKm(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Events
    val subj = survivalSubjects(s, dir)
    val base = Events.survivalCellsOf(
      subj.filter(col("user_id") % 10 < 8), "dur_days", "observed")
    val delta = Events.survivalCellsOf(
      subj.filter(col("user_id") % 10 >= 8), "dur_days", "observed")
    Events.kaplanMeierFromCells(Events.foldSurvivalCells(base, delta))
  }

  // ---------------------------------------------------------------- q361
  /** Streaming Kaplan–Meier monitor ([[graft.operators.Events
    * .kaplanMeierMonitor]]): q355's subjects micro-batched,
    * duration-grid cells folding by SUM into versioned state,
    * readout = the shared prefix/fixed-point arithmetic — held to
    * q355's VERBATIM oracle, completing the survival family's
    * batch / incremental / stream matrix. */
  private def q361StreamKm(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.monitor(
        Events.kaplanMeierMonitor("dur_days", "observed"),
        survivalSubjects(s, dir))

  // ---------------------------------------------------------------- q362
  /** Nelson–Aalen cumulative hazard ([[graft.operators.Events
    * .nelsonAalen]]): the conversion pressure per day over q355's
    * subjects — the increments ARE the per-duration event rates,
    * the readout that localizes WHEN conversion accelerates where
    * KM's product only shows the surviving fraction. Second reader
    * of the same maintained duration-grid cells. */
  private def q362NelsonAalen(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.nelsonAalen(
      survivalSubjects(s, dir), "dur_days", "observed")

  // ---------------------------------------------------------------- q363
  /** Restricted mean survival time ([[graft.operators.Events
    * .rmst]], τ = 20 days): expected days-to-14th-purchase within
    * the first 20 — the single-number curve summary that stays
    * defined under q355's ~54% censoring (the median never is).
    * Exact step-function area off the published 6dp curve. */
  private def q363Rmst(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.rmst(
      survivalSubjects(s, dir), "dur_days", "observed", tau = 20.0)

  // ---------------------------------------------------------------- q364
  /** Spearman's rank correlation ([[graft.operators.Moments
    * .spearmanRho]]): character count vs token count as a MONOTONE
    * association — the robustness check on q337's Pearson reading
    * (a heavy-tailed document can drag Pearson; it cannot move a
    * rank). Tie-averaged ranks off value-grid prefix sums, never a
    * row sort; ρ via the shared moment state. */
  private def q364SpearmanRho(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val docs = Tables.documents(s, dir).select(
      col("n_chars").cast("double").as("n_chars"),
      when(col("text").isNotNull,
        TextFunctions.tokenCount(col("text")).cast("double"))
        .as("n_tokens"))
    graft.operators.Moments.spearmanRho(docs, "n_chars", "n_tokens")
  }

  // ---------------------------------------------------------------- q365
  /** Per-language Spearman ([[graft.operators.Moments
    * .spearmanRhoByGroup]]): q364's monotone-association readout
    * sliced by language — group-local tie-averaged ranks off ONE
    * range-partitioned running total with group-MIN offsets, null-safe
    * grid joins, per-group ρ off the shared group moment state. */
  private def q365GroupSpearman(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val docs = Tables.documents(s, dir).select(
      col("lang"),
      col("n_chars").cast("double").as("n_chars"),
      when(col("text").isNotNull,
        TextFunctions.tokenCount(col("text")).cast("double"))
        .as("n_tokens"))
    graft.operators.Moments.spearmanRhoByGroup(
      docs, "lang", "n_chars", "n_tokens")
  }

  // ---------------------------------------------------------------- q366
  /** Streaming URL-dedup monitor ([[graft.operators.Dedup
    * .keyDedupMonitor]]): q349's normalized URLs micro-batched,
    * per-key min-id winners folding by re-min into versioned state —
    * arrival order provably cannot change a winner, so the stream
    * registry is held to q349's VERBATIM oracle; completes the URL
    * family's batch (q349) / incremental ledger (q359) / stream
    * matrix. */
  private def q366StreamUrlDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.UrlFunctions
    val all = q349UrlCorpus(s, dir).select(col("doc_id"),
      UrlFunctions.urlNormalize(col("url")).as("url"))
    graft.streaming.StreamGate.monitor(
        Dedup.keyDedupMonitor("url", "doc_id"), all)
      .select(col("url"), col("doc_id").as("first_doc_id"))
  }

  // ---------------------------------------------------------------- q367
  /** Competing-risks cumulative incidence ([[graft.operators.Events
    * .cumulativeIncidence]]): conversion (14th purchase) vs stalling
    * (early disappearance, last seen ≤ day 28) as COMPETING exits,
    * still-active users censored — the Aalen–Johansen curves whose
    * per-cause sums stay honest where per-cause 1−KM overcounts
    * (the bias the spec demonstrates). All-cause survival off the
    * shared grid machinery; per-type incidences off one more prefix
    * with group-MIN offsets. */
  private def q367CumulativeIncidence(
      s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.cumulativeIncidence(
      survivalSubjects(s, dir).select(col("dur_days"),
        when(col("observed"), lit("converted"))
          .when(col("dur_days") <= 28.0, lit("stalled"))
          .otherwise(lit(null).cast("string")).as("outcome")),
      "dur_days", "outcome")

  // ---------------------------------------------------------------- q368
  /** Per-cohort restricted mean survival time ([[graft.operators
    * .Events.rmstByGroup]], τ = 20): expected days-to-conversion
    * within 20 per first-event type — the per-slice effect number a
    * cohort comparison reports, off q356's per-group curves with
    * boundary-clean lags and max_by tails. */
  private def q368GroupRmst(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.rmstByGroup(
      survivalSubjects(s, dir), "first_type", "dur_days", "observed",
      tau = 20.0)

  // ---------------------------------------------------------------- q369
  /** Per-cohort Nelson–Aalen ([[graft.operators.Events
    * .nelsonAalenByGroup]]): each first-event type's own conversion
    * pressure curve — the per-slice completion of q362, group-local
    * risk sets and hazard prefixes off the shared range-partitioned
    * machinery. */
  private def q369GroupNelsonAalen(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.nelsonAalenByGroup(
      survivalSubjects(s, dir), "first_type", "dur_days", "observed")

  // ---------------------------------------------------------------- q370
  /** Per-segment CUPED readout ([[graft.operators.Experiment
    * .cupedReportByGroup]]): q352's pre/post user table sliced into
    * three deterministic user segments — θ estimated PER SLICE, so a
    * segment where the pre-period value predicts the post-period
    * outcome more strongly gets more variance reduction ("did the
    * treatment lift segment 0 but not segment 2?"). Arms off the same
    * portable-hash assignment (fresh salt); the oracle replays the
    * per-segment θ and every adjusted term. */
  private def q370GroupCuped(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Experiment
    val splitUs = 1705363200000000L
    def side(pre: Boolean) = sum(when(
      if (pre) unix_micros(col("ts")) < splitUs
      else unix_micros(col("ts")) >= splitUs,
      round(col("value"), 12).cast("decimal(38,12)"))).cast("double")
    val users = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .groupBy("user_id")
      .agg(side(pre = true).as("pre_value"),
        side(pre = false).as("post_value"))
      .withColumn("segment",
        concat(lit("seg"), (col("user_id") % 3L).cast("string")))
    val assigned = Experiment.assignArms(users, "user_id", salt = "cuped2",
      arms = Seq(("control", 0.5), ("treat", 0.5)))
    Experiment.cupedReportByGroup(assigned, "segment", "arm",
      "post_value", "pre_value")
  }

  // ---------------------------------------------------------------- q371
  /** k-sample log-rank ([[graft.operators.Events.logRankTestK]]):
    * does time-to-conversion differ across THREE first-touch cohorts
    * (browse = click/view, error, intent = purchase/signup)? Per
    * pooled event time every cohort's O−E and the full covariance
    * accumulate as 12dp-exact decimal sums; χ² over 2 df through the
    * exact-decimal adjugate. The oracle replays risk sets, every
    * hypergeometric term, and the fixed-point 2×2 quadratic form. */
  private def q371LogRankK(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.logRankTestK(
      survivalSubjects(s, dir).withColumn("cohort",
        when(col("first_type").isin("purchase", "signup"), lit("intent"))
          .when(col("first_type").isin("click", "view"), lit("browse"))
          .otherwise(lit("error"))),
      "cohort", "dur_days", "observed")

  // ---------------------------------------------------------------- q372
  /** Stratified log-rank ([[graft.operators.Events.logRankTestK]]
    * with `strataCol`): the q357 even/odd comparison ADJUSTED for
    * first-event type — each stratum contributes its own
    * hypergeometric O−E and variance off stratum-local risk sets,
    * summed before the χ² readout (1 df), so a cohort-mix imbalance
    * between the arms can no longer masquerade as a survival
    * difference. */
  private def q372StratifiedLogRank(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.logRankTestK(
      survivalSubjects(s, dir), "parity", "dur_days", "observed",
      strataCol = Some("first_type"))

  // ---------------------------------------------------------------- q373
  /** Unigram-LM (SentencePiece-style) tokenizer training
    * ([[graft.operators.Corpus.unigramTrainModel]]): substring seed
    * candidates off the distinct-word table, two deterministic hard-EM
    * rounds (in-plan Viterbi over a plan-literal 12dp fixed-point log
    * table, exact long path scores, zero-count multis pruned), final
    * cut to 40 tokens. The oracle replays the seed heuristic, BOTH EM
    * rounds' lattices position-by-position, the tie rule, and the
    * add-one normalizer. */
  private def q373UnigramTrain(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.unigramTrain(
      Tables.documents(s, dir), "text", vocabSize = 40,
      maxTokenLen = 4, seedSize = 256, iters = 2, maxWordLen = 16)

  // ---------------------------------------------------------------- q374
  /** Unigram-LM Viterbi encode ([[graft.operators.Corpus
    * .unigramEncode]]) under q373's trained model: every corpus word
    * segmented map-only against the plan-literal vocabulary (unseen
    * characters fall back at the add-one zero-count score), read out
    * as the top-50 encoded-token frequencies — the q105 readout
    * pattern. maxWordLen 16 keeps the loud encode guard aligned with
    * the oracle's unroll depth. */
  private def q374UnigramEncode(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    val model = Corpus.unigramTrainModel(
      Tables.documents(s, dir), "text", vocabSize = 40,
      maxTokenLen = 4, seedSize = 256, iters = 2, maxWordLen = 16)
    Corpus.unigramEncode(Tables.documents(s, dir), "text", model,
        maxWordLen = 16)
      .select(explode(col("unigram_tokens")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token")).limit(50)
  }

  /** q375/q376's shared experiment frame — q199's deterministic
    * assignment and conversion outcome. */
  private def seqAbAssigned(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Experiment
    val users = Tables.events(s, dir).groupBy("user_id")
      .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        >= 14L).as("converted"))
    Experiment.assignArms(users, "user_id", salt = "exp1",
      arms = Seq(("control", 0.5), ("treat_a", 0.25), ("treat_b", 0.25)))
  }

  // ---------------------------------------------------------------- q375
  /** Always-valid (mSPRT) sequential experiment readout
    * ([[graft.operators.Experiment.sequentialAbReport]]): q199's
    * experiment under the peeking-safe p-value — the normal-mixture
    * likelihood ratio over the pooled two-proportion variance,
    * `p = min(1, √((V+τ²)/V)·exp(−θ̂²τ²/(2V(V+τ²))))`. A null
    * experiment by construction, so p sits near 1. The oracle replays
    * the hash, the counts, and the boundary arithmetic in the
    * identical expression tree. */
  private def q375SequentialAb(s: SparkSession, dir: String): DataFrame =
    graft.operators.Experiment.sequentialAbReport(
      seqAbAssigned(s, dir), "arm", "converted", controlArm = "control")
      .orderBy("arm")

  // ---------------------------------------------------------------- q376
  /** Streaming sequential experiment monitor ([[graft.streaming
    * .StreamGate.replaySequentialAbMonitor]]): q375's experiment with
    * outcomes arriving as a file stream, the always-valid p LOOKED AT
    * after every micro-batch (safe by construction — that is mSPRT's
    * point) and its running minimum folded. The final-look columns
    * are held to q375's VERBATIM oracle (counts fold by SUM); the
    * sequential trail (`min_av_p6`/`ever_crossed`/`n_looks`) is
    * spec-pinned. */
  private def q376StreamSequentialAb(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamGate.replaySequentialAbMonitor(
      seqAbAssigned(s, dir), "arm", "converted", controlArm = "control")
      .select("arm", "n", "n_pass", "rate6", "av_p6", "significant")
      .orderBy("arm")

  // ---------------------------------------------------------------- q377
  /** Logistic-regression quality gate ([[graft.operators.Classify
    * .trainLogistic]] + `scoreLogistic`): a linear English-vs-rest
    * filter calibrated on (chars, tokens) — the jointly-weighted
    * complement to q112's NB gate, whose independence assumption
    * double-counts these correlated signals. Three deterministic
    * Newton steps over 12dp-exact gradient/Hessian sums, the 3×3
    * solve through the exact-decimal adjugate; the oracle replays
    * EVERY iteration's linear algebra — each μ, each term sum, each
    * cofactor product, each β update — and every final score. */
  private def q377LogisticGate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Classify
    import graft.functions.TextFunctions
    val docs = Tables.documents(s, dir)
      .withColumn("label", col("lang") === "en")
      .withColumn("x1", col("n_chars").cast("double") / 1000.0)
      .withColumn("x2",
        when(col("text").isNotNull,
          TextFunctions.tokenCount(col("text")).cast("double") / 100.0))
    val model = Classify.trainLogistic(docs, Seq("x1", "x2"), "label",
      iters = 3)
    Classify.scoreLogistic(docs, Seq("x1", "x2"), model)
      .select(col("doc_id"), col("label"),
        round(col("log_odds"), 6).as("log_odds6"),
        (round(col("log_odds"), 6) > 0.0).as("predicted"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q378
  /** Mergeable quantile sketch ([[graft.operators.Profile
    * .sketchQuantiles]]): the bottom-k-by-portable-hash sample sketch
    * over event values — the sketch tier for cardinalities where even
    * the distinct value grid is too large for the exact family — with
    * the realized rank error gated against the DKW envelope IN the
    * readout (the ANN recall-gate discipline). Every output is an
    * exact long or a verbatim data value; the oracle replays the
    * hash, the bottom-k, the order-statistic pick, and both rank
    * counts. */
  private def q378SketchQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.sketchQuantiles(
      Tables.events(s, dir), "value", "event_id",
      ps = Seq(0.25, 0.5, 0.9), k = 1024)

  // ---------------------------------------------------------------- q379
  /** Streaming sketch-quantile monitor ([[graft.operators.Profile
    * .sketchQuantileMonitor]]): the same events arriving as a
    * file stream, each micro-batch's own bottom-k folding into the
    * k-row state by min-k — associative, commutative, idempotent, so
    * the final state provably equals q378's batch sketch whatever the
    * split. Held to q378's VERBATIM oracle; completes the quantile
    * family's exact batch/incremental/stream (q221-q223) with a
    * sketch-tier batch/stream pair. */
  private def q379StreamSketchQuantiles(
      s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    graft.streaming.StreamGate.monitor(Profile.sketchQuantileMonitor(ev,
      "value", "event_id", ps = Seq(0.25, 0.5, 0.9), k = 1024), ev)
  }

  // ---------------------------------------------------------------- q381
  /** Unigram-aware sequence packing (the q108 analogue — the unigram
    * family's end product): every document Viterbi-encoded and
    * SUBWORD-counted under q373's model, the corpus packed into
    * 256-subword training sequences via the distributed prefix sum
    * ([[graft.operators.Corpus.packSequencesByCount]]). The oracle
    * recomputes per-doc subword counts from the trained lattice and
    * replays the running window — every offset and sequence
    * assignment integer-exact. */
  private def q381PackUnigram(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
    val model = Corpus.unigramTrainModel(docs, "text", vocabSize = 40,
      maxTokenLen = 4, seedSize = 256, iters = 2, maxWordLen = 16)
    val counted = Corpus.unigramEncode(docs, "text", model, maxWordLen = 16)
      .select(col("doc_id"), size(col("unigram_tokens")).as("n_subwords"))
    Corpus.packSequencesByCount(counted, "doc_id", "n_subwords",
        seqLen = 256L)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q382
  /** PER-GROUP mergeable quantile sketch ([[graft.operators.Profile
    * .sketchQuantilesByGroup]]): the q378 bottom-k-by-portable-hash
    * sample keyed by event type — each group's own ≤ k sample via the
    * bounded-heap aggregator (map-side partial, O(k × partitions)
    * shuffle rows per group however skewed), each group's estimates
    * gated against ITS OWN exact ranks and DKW envelope in the
    * readout. The oracle replays the hash, each group's bottom-k, the
    * order-statistic picks, and both rank counts per group. */
  private def q382GroupSketchQuantiles(
      s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.sketchQuantilesByGroup(
      Tables.events(s, dir), "event_type", "value", "event_id",
      ps = Seq(0.5, 0.9), k = 256)

  // ---------------------------------------------------------------- q383
  /** Streaming per-group sketch monitor ([[graft.operators.Profile
    * .groupSketchQuantileMonitor]]): q382's state maintained
    * over a file stream, micro-batch samples folding by keyed min-k —
    * associative, commutative, idempotent per group — so the final
    * state provably equals the batch state whatever the split. Held
    * to q382's VERBATIM oracle. */
  private def q383StreamGroupSketchQuantiles(
      s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    graft.streaming.StreamGate.monitor(Profile.groupSketchQuantileMonitor(ev,
      "event_type", "value", "event_id", ps = Seq(0.5, 0.9), k = 256), ev)
  }

  /** The q384/q385 corpus: documents.text plus a deterministic
    * doc_id-keyed non-ASCII suffix — byte-level BPE must prove itself
    * on MULTI-BYTE text (a 2-3-byte character is several byte symbols
    * the merges must re-join), and the stock sf corpus is ASCII. */
  private def multiByteDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(concat(col("text"),
      element_at(array(lit(" café"), lit(" naïve über"),
          lit(" 日本語"), lit(" żółć")),
        (col("doc_id") % 4 + 1).cast("int"))).as("text2"))

  // ---------------------------------------------------------------- q384
  /** Byte-level BPE training ([[graft.operators.Corpus
    * .byteBpeMerges]] — the GPT-2 production lineage): whitespace
    * words decomposed into UTF-8 BYTE symbols through the
    * bytes↔unicode table (a native codegen'd map), then the exact
    * [[graft.operators.Corpus.bpeMerges]] recurrence over byte
    * symbols — multi-byte characters enter as several symbols that
    * merges must re-join, and coverage is total by construction (byte
    * fallback, no unk). The oracle replays the byte mapping from the
    * SAME 256-char table and all 8 merge levels. */
  private def q384ByteBpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.byteBpeMerges(
      multiByteDocs(s, dir), "text2", 8)

  // ---------------------------------------------------------------- q385
  /** Byte-level BPE encode ([[graft.operators.Corpus.byteBpeEncode]]
    * through the save/load artifact roundtrip): the trained byte
    * merge table applied by the native replace chain, token
    * frequencies over the encoded corpus. The oracle replays mapping,
    * training, and the end-of-training repr invariant
    * (encode(word) == final training repr). */
  private def q385ByteBpeEncode(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    val docs = multiByteDocs(s, dir)
    val mergesDf = Corpus.byteBpeMerges(docs, "text2", 8)
    val artDir = java.nio.file.Files
      .createTempDirectory("graft-q385-merges").toString
    val merges = try {
      Corpus.saveMerges(mergesDf, artDir)
      Corpus.loadMerges(s, artDir)
    } finally graft.streaming.StreamGate.deleteRecursively(artDir)
    Corpus.byteBpeEncode(docs, "text2", merges)
      .select(explode(col("byte_bpe_tokens")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(50)
  }

  /** The q386 corpus: documents.text reshaped into a deterministic
    * multi-line form (the sf corpus is single-line, and the Gopher
    * line/paragraph rules need real newlines): three 50-char segments
    * of each doc, with doc_id%3 picking clean lines, a planted
    * duplicate LINE, or a planted duplicate PARAGRAPH — so both
    * granularities, the char fractions, and the empty-segment filter
    * (short docs have an empty third segment) are all exercised. */
  private def multiLineDocs(s: SparkSession, dir: String): DataFrame = {
    val a = substring(col("text"), 1, 50)
    val b = substring(col("text"), 51, 50)
    val c = substring(col("text"), 101, 50)
    Tables.documents(s, dir).select(col("doc_id"),
      when(col("doc_id") % 3 === 0, concat_ws("\n", a, b, a, c))
        .when(col("doc_id") % 3 === 1, concat_ws("\n\n",
          concat(a, lit("\n"), b), c, concat(a, lit("\n"), b)))
        .otherwise(concat_ws("\n", a, b, c)).as("text2"))
  }

  // ---------------------------------------------------------------- q386
  /** Gopher structural repetition rules ([[graft.functions
    * .TextFunctions.structuralRepetitionMetrics]] — the remaining
    * Rae et al. Table A1 siblings of q53): duplicate line/paragraph
    * fraction and duplicate line/paragraph CHAR fraction, map-only
    * per-row expressions over the derived multi-line corpus. The
    * oracle recomputes every unit split, distinct count, char sum,
    * and division. */
  private def q386StructuralRepetition(s: SparkSession, dir: String): DataFrame = {
    val m = graft.functions.TextFunctions.structuralRepetitionMetrics(col("text2"))
    multiLineDocs(s, dir)
      .select(col("doc_id"), m.as("__m"))
      .select(col("doc_id"),
        col("__m.n_lines").as("n_lines"),
        col("__m.n_distinct_lines").as("n_distinct_lines"),
        col("__m.dup_line_frac").as("dup_line_frac"),
        col("__m.dup_line_char_frac").as("dup_line_char_frac"),
        col("__m.n_paragraphs").as("n_paragraphs"),
        col("__m.n_distinct_paragraphs").as("n_distinct_paragraphs"),
        col("__m.dup_paragraph_frac").as("dup_paragraph_frac"),
        col("__m.dup_paragraph_char_frac").as("dup_paragraph_char_frac"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q387
  /** Whole-document first-fit-decreasing packing
    * ([[graft.operators.Corpus.packFirstFitDecreasing]] +
    * [[graft.operators.Corpus.binPaddingReport]]): every document
    * intact in one 256-token bin, shard by portable hash, largest-
    * first within shard — the deterministic bin-packing complement to
    * q54's offset packing, with the per-bin fill/padding readout
    * joined on. The oracle replays the hash, the (count DESC, id)
    * order, and the ENTIRE first-fit recurrence per shard via a
    * recursive CTE — one document in a different bin anywhere fails
    * the hash. */
  private def q387PackFfd(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    val counted = Tables.documents(s, dir).select(col("doc_id"),
      graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens"))
    val packed = Corpus.packFirstFitDecreasing(counted, "doc_id", "n_tokens",
      seqLen = 256L, numShards = 4)
    val report = Corpus.binPaddingReport(packed, "shard", "bin", "n", 256L)
    packed.join(report, Seq("shard", "bin"))
      .select(col("doc_id").cast("long").as("doc_id"), col("n"),
        col("shard"), col("bin"),
        col("n_docs"), col("fill"), col("padding"), col("padding_frac"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q388
  /** Per-sequence padding/overflow readout for the GREEDY offset
    * packer ([[graft.operators.Corpus.binPaddingReport]] over q54's
    * [[graft.operators.Corpus.packSequences]] assignment): docs are
    * assigned whole to the sequence their start offset lands in, so
    * fills scatter around the 512 budget — the padding and overflow
    * columns quantify exactly the waste the q387 FFD packer removes.
    * The oracle replays the prefix sum, the seq assignment, and every
    * per-sequence aggregate. */
  private def q388GreedyPackPadding(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    val packed = Corpus.packSequences(Tables.documents(s, dir), "doc_id",
      "text", seqLen = 512L)
    Corpus.binPaddingReport(packed.withColumn("__one", lit(0)),
        "__one", "seq_id", "n_tokens", 512L)
      .select(col("bin").as("seq_id"), col("n_docs"), col("fill"),
        col("padding"), col("overflow"), col("padding_frac"),
        col("utilization"))
      .orderBy("seq_id")
  }

  // ---------------------------------------------------------------- q389
  /** Exact shared-substring decontamination
    * ([[graft.operators.Corpus.exactSubstringSpans]] — Lee et al.'s
    * exact-substring criterion with offsets): every maximal verbatim
    * token span >= 7 shared between the doc_id%7==3 eval split and
    * the rest of the corpus, over a corpus with planted cross-split
    * boilerplate suffixes (two suffix classes by doc_id%3) on top of
    * the generator's own duplicated spans. The oracle re-derives the
    * corpus, joins every 7-gram anchor by its STRING (full recall —
    * the engine's hashed join + verification walk must produce the
    * identical span set), replays both extensions position-by-
    * position, and dedupes to maximal spans — one span offset or
    * length wrong anywhere fails the hash. */
  /** The q389/q390 corpus: sparse plant classes (mod 23 / mod 29) —
    * the pair count must stay candidate-shaped, not
    * quadratic-in-corpus: at mod 3 the planted cross-split pairs
    * alone were ~680k at sf0.1 (41 s); at these densities they are
    * ~10k (the operator's guard exists for corpora where boilerplate
    * really is that hot; the QUERY should model a decontamination
    * workload, where leaked spans are rare). */
  private def plantedSpanDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 23 === 5,
          lit(" the quick brown fox jumps over the lazy dog end"))
          .when(col("doc_id") % 29 === 11,
            lit(" shared boilerplate legal notice terms apply here now"))
          .otherwise(lit(""))).as("text2"))

  private def q389ExactSubstringSpans(s: SparkSession, dir: String): DataFrame = {
    val planted = plantedSpanDocs(s, dir)
    val eval = planted.filter(col("doc_id") % 7 === 3)
    val train = planted.filter(col("doc_id") % 7 =!= 3)
    graft.operators.Corpus.exactSubstringSpans(
        eval, "doc_id", "text2", train, "doc_id", "text2",
        minTokens = 7)
      .orderBy("left_id", "right_id", "left_start", "right_start")
  }

  // ---------------------------------------------------------------- q390
  /** Offset-addressed span removal ([[graft.operators.Corpus
    * .removeSpansAt]] consuming q389's span table — the detect→cut
    * loop closed): every train doc loses exactly the token positions
    * its shared-span offsets cover (the planted boilerplate suffix
    * and the generator's own duplicated runs), unique prose survives.
    * The oracle recomputes the FULL span table (q389's replay as a
    * CTE) and then replays the coverage test and the rebuild token by
    * token. */
  private def q390RemoveSpans(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    val planted = plantedSpanDocs(s, dir)
    val eval = planted.filter(col("doc_id") % 7 === 3)
    val train = planted.filter(col("doc_id") % 7 =!= 3)
    val spans = Corpus.exactSubstringSpans(
      eval, "doc_id", "text2", train, "doc_id", "text2", minTokens = 7)
    Corpus.removeSpansAt(train, "doc_id", "text2",
        spans, "right_id", "right_start", "span_len")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q391
  /** Gopher line-format quality rules ([[graft.functions
    * .TextFunctions.gopherLineRules]] — bullet-start / ellipsis-end
    * line fractions, #/... symbol-to-word ratio, alphabetic-word
    * fraction) over a derived corpus that plants each formatting
    * pathology by doc class: doc_id%4==0 bullets every line, %4==1
    * ellipsis-ends every line, %4==2 prepends a `#` symbol, else
    * untouched. The oracle re-derives the corpus and recomputes
    * every line test, symbol count, and division. */
  private def q391GopherLineRules(s: SparkSession, dir: String): DataFrame = {
    val nl = lit("\n")
    val t2 = col("text2")
    val t3 = when(col("doc_id") % 4 === 0,
        concat(lit("- "), replace(t2, nl, lit("\n- "))))
      .when(col("doc_id") % 4 === 1,
        concat(replace(t2, nl, lit("...\n")), lit("...")))
      .when(col("doc_id") % 4 === 2, concat(lit("# "), t2))
      .otherwise(t2)
    val m = graft.functions.TextFunctions.gopherLineRules(col("text3"))
    multiLineDocs(s, dir)
      .select(col("doc_id"), t3.as("text3"))
      .select(col("doc_id"), m.as("__m"))
      .select(col("doc_id"),
        col("__m.n_lines").as("n_lines"),
        col("__m.bullet_line_frac").as("bullet_line_frac"),
        col("__m.ellipsis_line_frac").as("ellipsis_line_frac"),
        col("__m.n_words").as("n_words"),
        col("__m.symbol_word_ratio").as("symbol_word_ratio"),
        col("__m.alpha_word_frac").as("alpha_word_frac"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q393
  /** Embedding-truncation retrieval eval ([[graft.operators.Similarity
    * .embeddingTruncationReport]] — the Matryoshka adoption question):
    * exact cosine top-10 under 8/16/32-dim prefixes vs the full
    * 64-dim exact top-10, recall@10 per budget over the sampled query
    * set. The oracle replays every pairwise prefix cosine (the q201
    * index-order double discipline over list slices), both rankings
    * with the (cos DESC, id ASC) tie rule, the set intersection, and
    * the exact recall division. */
  private def q393TruncationRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    graft.operators.Similarity.embeddingTruncationReport(
      emb, "vec_id", "embedding",
      emb.filter(col("vec_id") % 101 === 7), "vec_id", "embedding",
      dimBudgets = Seq(8, 16, 32), k = 10)
  }

  // ---------------------------------------------------------------- q394
  /** Two-stage truncated-retrieve → full-dim re-rank eval
    * ([[graft.operators.Similarity.truncatedRerankReport]] — the
    * funnel q393's curve motivates): stage-1 top-m by 16-dim prefix
    * cosine, stage-2 re-ranks those m at full 64 dims, recall@10 vs
    * exact per candidate budget m. The oracle replays both cosines
    * per pair, the prefix ranking, the within-funnel re-ranking, the
    * exact ranking, and the intersection counts. */
  private def q394TruncatedRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    graft.operators.Similarity.truncatedRerankReport(
      emb, "vec_id", "embedding",
      emb.filter(col("vec_id") % 101 === 7), "vec_id", "embedding",
      prefixDims = 16, mCandidates = Seq(20, 50, 100), k = 10)
  }

  // ---------------------------------------------------------------- q392
  /** Streaming exact-substring firewall ([[graft.streaming.StreamGate
    * .replayExactSubstringGate]]): the train split arrives as a file
    * stream in multi-file micro-batches, each batch gated against the
    * STATIC eval split by [[graft.operators.Corpus
    * .dropExactSubstringMatches]] — the verbatim-leak twin of q113's
    * fuzzy firewall. Verdicts are per-doc against the static side, so
    * the replay's oracle is the plain batch semantics: every train
    * doc sharing NO token run >= 7 with any eval doc (a doc wrongly
    * dropped or leaked in ANY micro-batch fails the hash). */
  private def q392StreamExactSubstringGate(
      s: SparkSession, dir: String): DataFrame = {
    val planted = plantedSpanDocs(s, dir)
    val eval = planted.filter(col("doc_id") % 7 === 3)
    val train = planted.filter(col("doc_id") % 7 =!= 3)
    graft.streaming.StreamGate.replayExactSubstringGate(
        train, "doc_id", "text2", eval, "doc_id", "text2", minTokens = 7)
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text2")).as("n_tokens"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q380
  /** Unigram token-id streams (the q107 analogue for the unigram
    * family — BPE and unigram now both close the loop train → encode
    * → ids): every document Viterbi-encoded under q373's model, ids
    * from the (freq desc, token) ranking over the encoded stream
    * ([[graft.operators.Corpus.vocabularyFromFrequencies]]'s rule),
    * positions per document. The oracle replays the trained lattice,
    * each word's segmentation, per-doc positions by (word order,
    * subword order), and the id ranking. */
  private def q380UnigramIds(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Corpus
    val docs = Tables.documents(s, dir)
    val model = Corpus.unigramTrainModel(docs, "text", vocabSize = 40,
      maxTokenLen = 4, seedSize = 256, iters = 2, maxWordLen = 16)
    val enc = Corpus.unigramEncode(docs, "text", model, maxWordLen = 16)
    val vocab = Corpus.vocabularyFromFrequencies(
      enc.select(explode(col("unigram_tokens")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq")))
    enc.select(col("doc_id"),
        posexplode(col("unigram_tokens")).as(Seq("pos", "token")))
      .join(vocab.select("token", "token_id"), Seq("token"))
      .select(col("doc_id"), col("pos"), col("token_id"))
      .orderBy("doc_id", "pos")
  }

  // ---------------------------------------------------------------- q349
  /** Deterministic messy-URL corpus shared by q349/q350: one absolute
    * URL per document, with scheme/host casing, userinfo, default and
    * non-default ports, trailing slashes, unsorted + tracking query
    * params, and fragments all varied by doc_id arithmetic — the
    * byte-level noise [[graft.functions.UrlFunctions.urlNormalize]]
    * exists to cancel. The SAME arithmetic replays verbatim in the
    * DuckDB oracle. */
  private def q349UrlCorpus(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val hostBase = concat(lit("docs."), col("source"),
      when(id % 3 === 0, lit(".co.uk"))
        .when(id % 3 === 1, lit(".com"))
        .otherwise(lit(".github.io")))
    val url = concat(
      when(id % 4 === 0, lit("HTTP://")).when(id % 4 === 1, lit("http://"))
        .when(id % 4 === 2, lit("HTTPS://")).otherwise(lit("https://")),
      when(id % 7 === 0, lit("user:Pw@")).otherwise(lit("")),
      when(id % 2 === 0, upper(hostBase)).otherwise(hostBase),
      when(id % 5 === 0, lit(":80")).when(id % 5 === 1, lit(":443"))
        .when(id % 5 === 2, lit(":8080")).otherwise(lit("")),
      lit("/d/"), (id % 25).cast("string"),
      when(id % 6 === 0, lit("/")).otherwise(lit("")),
      lit("?page="), (id % 4).cast("string"),
      when(id % 2 === 0, lit("&utm_source=news")).otherwise(lit("")),
      when(id % 3 === 0, lit("&B=2&a=1")).otherwise(lit("")),
      when(id % 5 === 0, lit("#Sec1")).otherwise(lit("")))
    Tables.documents(s, dir).select(col("doc_id"), url.as("url"))
  }

  /** URL-keyed exact dedup ([[graft.functions.UrlFunctions
    * .urlNormalize]] → [[graft.operators.Dedup.exactDedupIds]]): the
    * stage-0 pass of every web-corpus recipe — canonicalize each raw
    * URL (case, userinfo, ports, slashes, tracking params, fragments)
    * and keep the earliest doc_id per canonical URL. Map-only codegen
    * normalization riding the scan; the only shuffle ships
    * (normalized-url, id) pairs through a map-side-combined min. */
  private def q349UrlDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.UrlFunctions
    val nd = q349UrlCorpus(s, dir).select(col("doc_id"),
      UrlFunctions.urlNormalize(col("url")).as("url"))
    Dedup.exactDedupIds(nd, Seq("url"), "doc_id")
      .select(col("url"), col("doc_id").as("first_doc_id"))
      .orderBy("url")
  }

  // ---------------------------------------------------------------- q350
  /** Per-registered-domain rollup of the URL-deduped corpus
    * ([[graft.functions.UrlFunctions.registeredDomain]] over q349's
    * winners): the crawl mixture report keyed on pay-level domains
    * against a caller-supplied public-suffix list (exercising the
    * longest-match rule — `co.uk` beats `uk`, `github.io` beats
    * `io`). Suffix probe is one array-literal expression, no join. */
  private def q350DomainRollup(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.UrlFunctions
    q349UrlDedup(s, dir)
      .select(col("first_doc_id"),
        UrlFunctions.registeredDomain(
          UrlFunctions.urlHost(col("url")), Q350Suffixes).as("domain"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_urls"),
        min(col("first_doc_id")).as("first_doc_id"))
      .orderBy("domain")
  }

  private val Q350Suffixes =
    Seq("com", "org", "uk", "co.uk", "io", "github.io")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_sum_agg" -> (q01SumAgg _),
    "q02_schema_introspect" -> (q02SchemaIntrospect _),
    "q03_catalog" -> (q03Catalog _),
    "q04_window_sum" -> (q04WindowSum _),
    "q05_concat_union" -> (q05ConcatUnion _),
    "q06_map_col" -> (q06MapCol _),
    "q07_rename" -> (q07Rename _),
    "q08_first_group" -> (q08FirstGroup _),
    "q09_array_diff" -> (q09ArrayDiff _),
    "q10_grouped_apply" -> (q10GroupedApply _),
    "q11_pivot" -> (q11Pivot _),
    "q12_within_year_ffill" -> (q12WithinYearFfill _),
    "q13_dedup_exact" -> (q13DedupExact _),
    "q14_minhash_neardup" -> (q14MinhashNearDup _),
    "q15_simhash" -> (q15Simhash _),
    "q16_text_stats" -> (q16TextStats _),
    "q17_similarity_topk" -> (q17SimilarityTopK _),
    "q18_ann_topk" -> (q18AnnTopK _),
    "q19_embedding_neardup" -> (q19EmbeddingNearDup _),
    "q20_multimodal" -> (q20Multimodal _),
    "q21_asof_join" -> (q21AsofJoin _),
    "q22_sessionize" -> (q22Sessionize _),
    "q23_within_year_impute" -> (q23WithinYearImpute _),
    "q24_lsh_embedding_neardup" -> (q24LshEmbeddingNearDup _),
    "q25_ivf_topk" -> (q25IvfTopK _),
    "q26_star_join" -> (q26StarJoin _),
    "q27_token_freq" -> (q27TokenFreq _),
    "q28_simhash_neardup" -> (q28SimhashNearDup _),
    "q29_json_extract" -> (q29JsonExtract _),
    "q30_tfidf" -> (q30Tfidf _),
    "q31_grouped_topk" -> (q31GroupedTopK _),
    "q32_hash_sample" -> (q32HashSample _),
    "q33_quantiles" -> (q33Quantiles _),
    "q34_rollup" -> (q34Rollup _),
    "q35_range_join" -> (q35RangeJoin _),
    "q36_row_ids" -> (q36RowIds _),
    "q37_supplier_region" -> (q37SupplierRegion _),
    "q38_chunk_tokens" -> (q38ChunkTokens _),
    "q39_simhash64_neardup" -> (q39Simhash64NearDup _),
    "q40_salted_join" -> (q40SaltedJoin _),
    "q41_stream_sessionize" -> (q41StreamSessionize _),
    "q42_stream_windowed_counts" -> (q42StreamWindowedCounts _),
    "q43_stream_dedup" -> (q43StreamDedup _),
    "q44_ngram_jaccard_window" -> (q44NgramJaccardWindow _),
    "q45_salted_agg" -> (q45SaltedAgg _),
    "q46_dedup_clusters" -> (q46DedupClusters _),
    "q47_bloom_pruned_join" -> (q47BloomPrunedJoin _),
    "q48_stratified_sample" -> (q48StratifiedSample _),
    "q49_corpus_clean" -> (q49CorpusClean _),
    "q50_vocab_build" -> (q50VocabBuild _),
    "q51_quantize_int8" -> (q51QuantizeInt8 _),
    "q52_decontaminate" -> (q52Decontaminate _),
    "q53_repetition_metrics" -> (q53RepetitionMetrics _),
    "q54_pack_sequences" -> (q54PackSequences _),
    "q55_cross_corpus_neardup" -> (q55CrossCorpusNearDup _),
    "q56_leakage_safe_split" -> (q56LeakageSafeSplit _),
    "q57_quantized_topk" -> (q57QuantizedTopK _),
    "q58_stream_interval_join" -> (q58StreamIntervalJoin _),
    "q59_stream_enrich" -> (q59StreamEnrich _),
    "q60_pii_redact" -> (q60PiiRedact _),
    "q61_shuffle_shard" -> (q61ShuffleShard _),
    "q62_heavy_hitters" -> (q62HeavyHitters _),
    "q63_dedup_clusters_star" -> (q63DedupClustersStar _),
    "q64_dup_ngram_stats" -> (q64DupNgramStats _),
    "q65_inverted_index" -> (q65InvertedIndex _),
    "q66_cap_sample" -> (q66CapSample _),
    "q67_exact_cap" -> (q67ExactCap _),
    "q68_bm25" -> (q68Bm25 _),
    "q69_ivf_batch_topk" -> (q69IvfBatchTopK _),
    "q70_stream_exclude_known" -> (q70StreamExcludeKnown _),
    "q71_mean_pool" -> (q71MeanPool _),
    "q72_cdc_chunks" -> (q72CdcChunks _),
    "q73_cdc_dup_stats" -> (q73CdcDupStats _),
    "q74_dedup_retain_best" -> (q74DedupRetainBest _),
    "q75_hybrid_search" -> (q75HybridSearch _),
    "q76_unicode_normalize" -> (q76UnicodeNormalize _),
    "q77_resize_plan" -> (q77ResizePlan _),
    "q78_frame_sample" -> (q78FrameSample _),
    "q79_sorted_grouped_apply" -> (q79SortedGroupedApply _),
    "q80_exact_cap_string" -> (q80ExactCapString _),
    "q81_group_totals" -> (q81GroupTotals _),
    "q82_csv_roundtrip" -> (q82CsvRoundtrip _),
    "q83_bucketed_join" -> (q83BucketedJoin _),
    "q84_profile" -> (q84Profile _),
    "q85_top_values" -> (q85TopValues _),
    "q86_mixture_sample" -> (q86MixtureSample _),
    "q87_incremental_dedup" -> (q87IncrementalDedup _),
    "q88_fuzzy_pairs" -> (q88FuzzyPairs _),
    "q89_zscore" -> (q89ZScore _),
    "q90_winsorize" -> (q90Winsorize _),
    "q91_decay_sum" -> (q91DecaySum _),
    "q92_funnel" -> (q92Funnel _),
    "q93_cohort" -> (q93Cohort _),
    "q94_rolling_window" -> (q94Rolling _),
    "q95_json_roundtrip" -> (q95JsonRoundtrip _),
    "q96_pagerank" -> (q96PageRank _),
    "q97_weighted_sample" -> (q97WeightedSample _),
    "q98_peak_concurrency" -> (q98PeakConcurrency _),
    "q99_percentile_rank" -> (q99PercentileRank _),
    "q100_bigram_lm" -> (q100BigramLm _),
    "q101_funnel_sorted" -> (q101FunnelSorted _),
    "q102_stream_funnel" -> (q102StreamFunnel _),
    "q103_bpe_merges" -> (q103BpeMerges _),
    "q104_dhash_neardup" -> (q104DHashNearDup _),
    "q105_bpe_encode" -> (q105BpeEncode _),
    "q106_semantic_dedup" -> (q106SemanticDedup _),
    "q107_bpe_ids" -> (q107BpeIds _),
    "q108_pack_bpe" -> (q108PackBpe _),
    "q109_neardup_ledger" -> (q109NearDupLedger _),
    "q110_semantic_decontaminate" -> (q110SemanticDecontaminate _),
    "q111_remove_dup_spans" -> (q111RemoveDupSpans _),
    "q112_naive_bayes_gate" -> (q112NaiveBayesGate _),
    "q113_stream_neardup_gate" -> (q113StreamNearDupGate _),
    "q114_pq_adc_topk" -> (q114PqAdcTopK _),
    "q115_ivfpq_topk" -> (q115IvfPqTopK _),
    "q116_scd_join" -> (q116ScdJoin _),
    "q117_stream_top_users" -> (q117StreamTopUsers _),
    "q118_rate_anomalies" -> (q118RateAnomalies _),
    "q119_scd_build" -> (q119ScdBuild _),
    "q120_triangles" -> (q120Triangles _),
    "q121_pmi_collocations" -> (q121PmiCollocations _),
    "q122_transition_matrix" -> (q122TransitionMatrix _),
    "q123_apply_changes" -> (q123ApplyChanges _),
    "q124_zorder" -> (q124ZOrder _),
    "q125_retrieval_eval" -> (q125RetrievalEval _),
    "q126_quality_gate" -> (q126QualityGate _),
    "q127_histogram" -> (q127Histogram _),
    "q128_psi_drift" -> (q128PsiDrift _),
    "q129_classifier_eval" -> (q129ClassifierEval _),
    "q130_calibration" -> (q130Calibration _),
    "q131_incremental_rollup" -> (q131IncrementalRollup _),
    "q132_attribution" -> (q132Attribution _),
    "q133_stream_rollup" -> (q133StreamRollup _),
    "q134_resample_ffill" -> (q134ResampleFfill _),
    "q135_snapshot_diff" -> (q135SnapshotDiff _),
    "q136_orc_roundtrip" -> (q136OrcRoundtrip _),
    "q137_export_manifest" -> (q137ExportManifest _),
    "q138_stupid_backoff" -> (q138StupidBackoff _),
    "q139_corpus_composition" -> (q139CorpusComposition _),
    "q140_k_anonymity" -> (q140KAnonymity _),
    "q141_top_paths" -> (q141TopPaths _),
    "q142_embedding_drift" -> (q142EmbeddingDrift _),
    "q143_csv_quarantine" -> (q143CsvQuarantine _),
    "q144_padding_report" -> (q144PaddingReport _),
    "q145_vocab_coverage" -> (q145VocabCoverage _),
    "q146_referential_integrity" -> (q146ReferentialIntegrity _),
    "q147_iqr_outliers" -> (q147IqrOutliers _),
    "q148_pr_curve" -> (q148PrCurve _),
    "q149_lift_table" -> (q149LiftTable _),
    "q150_cross_source_dup" -> (q150CrossSourceDup _),
    "q151_federated_concat" -> (q151FederatedConcat _),
    "q152_mom_growth" -> (q152MomGrowth _),
    "q153_stream_left_outer_join" -> (q153StreamLeftOuterJoin _),
    "q154_frame_neardup" -> (q154FrameNearDup _),
    "q155_truncation_dups" -> (q155TruncationDups _),
    "q156_skip_grams" -> (q156SkipGrams _),
    "q157_blocklist_gate" -> (q157BlocklistGate _),
    "q158_entropy_scores" -> (q158EntropyScores _),
    "q159_apss_pairs" -> (q159ApssPairs _),
    "q160_temporal_split" -> (q160TemporalSplit _),
    "q161_contrastive_pairs" -> (q161ContrastivePairs _),
    "q162_trim_silence" -> (q162TrimSilence _),
    "q163_mask_tokens" -> (q163MaskTokens _),
    "q164_rank_fusion" -> (q164RankFusion _),
    "q165_auc_by_source" -> (q165AucBySource _),
    "q166_dedup_savings" -> (q166DedupSavings _),
    "q167_asof_nearest" -> (q167AsofNearest _),
    "q168_langid_audit" -> (q168LangIdAudit _),
    "q169_stream_drift" -> (q169StreamDrift _),
    "q170_skew_plan" -> (q170SkewPlan _),
    "q171_boilerplate_lines" -> (q171BoilerplateLines _),
    "q172_token_budget" -> (q172TokenBudget _),
    "q173_stream_semantic_gate" -> (q173StreamSemanticGate _),
    "q174_compaction_plan" -> (q174CompactionPlan _),
    "q175_cohen_kappa" -> (q175CohenKappa _),
    "q176_shard_manifest" -> (q176ShardManifest _),
    "q177_join_explosion" -> (q177JoinExplosion _),
    "q178_label_errors" -> (q178LabelErrors _),
    "q179_robust_outliers" -> (q179RobustOutliers _),
    "q180_categorical_drift" -> (q180CategoricalDrift _),
    "q181_conformal_gate" -> (q181Conformal _),
    "q182_multiclass_nb" -> (q182MulticlassNb _),
    "q183_stream_cat_drift" -> (q183StreamCatDrift _),
    "q184_retrieval_eval_joined" -> (q184RetrievalEvalJoined _),
    "q185_shot_boundaries" -> (q185ShotBoundaries _),
    "q186_zipf_fit" -> (q186ZipfFit _),
    "q187_quantile_buckets" -> (q187QuantileBuckets _),
    "q188_mixture_weights" -> (q188MixtureWeights _),
    "q189_hard_negatives" -> (q189HardNegatives _),
    "q190_distinct_rollup" -> (q190DistinctRollup _),
    "q191_stream_distinct_rollup" -> (q191StreamDistinctRollup _),
    "q192_spearman_rho" -> (q192SpearmanRho _),
    "q193_pass_rate_ci" -> (q193PassRateCI _),
    "q194_incremental_components" -> (q194IncrementalComponents _),
    "q195_budget_allocation" -> (q195BudgetAllocation _),
    "q196_ks_drift" -> (q196KsDrift _),
    "q197_pruning_report" -> (q197PruningReport _),
    "q198_stream_ks_drift" -> (q198StreamKsDrift _),
    "q199_ab_experiment" -> (q199AbExperiment _),
    "q200_savings_sweep" -> (q200SavingsSweep _),
    "q201_embedding_health" -> (q201EmbeddingHealth _),
    "q202_rank_normalize" -> (q202RankNormalize _),
    "q203_schema_compat" -> (q203SchemaCompat _),
    "q204_tokenizer_fertility" -> (q204TokenizerFertility _),
    "q205_stream_ab_monitor" -> (q205StreamAbMonitor _),
    "q206_stream_components" -> (q206StreamComponents _),
    "q207_stratified_sample" -> (q207StratifiedSample _),
    "q208_pii_scan" -> (q208PiiScan _),
    "q209_seqlen_frontier" -> (q209SeqLenFrontier _),
    "q210_kcore" -> (q210KCore _),
    "q211_stream_shot_boundaries" -> (q211StreamShotBoundaries _),
    "q212_source_interleave" -> (q212SourceInterleave _),
    "q213_table_fingerprint" -> (q213TableFingerprint _),
    "q214_stream_pii_monitor" -> (q214StreamPiiMonitor _),
    "q215_fd_audit" -> (q215FdAudit _),
    "q216_fingerprint_delta" -> (q216FingerprintDelta _),
    "q217_bootstrap_ci" -> (q217BootstrapCI _),
    "q218_bh_fdr" -> (q218BhFdr _),
    "q219_stream_fingerprint" -> (q219StreamFingerprint _),
    "q220_bootstrap_ci_by_group" -> (q220BootstrapCIByGroup _),
    "q221_exact_quantiles" -> (q221ExactQuantiles _),
    "q222_incremental_quantiles" -> (q222IncrementalQuantiles _),
    "q223_stream_quantiles" -> (q223StreamQuantiles _),
    "q224_stream_scd_enrichment" -> (q224StreamScdEnrichment _),
    "q225_stream_bootstrap_ci" -> (q225StreamBootstrapCI _),
    "q226_categorical_association" -> (q226CategoricalAssociation _),
    "q227_token_mass_quantiles" -> (q227TokenMassQuantiles _),
    "q228_quantiles_by_group" -> (q228QuantilesByGroup _),
    "q229_fellegi_sunter" -> (q229FellegiSunter _),
    "q230_gini_token_mass" -> (q230GiniTokenMass _),
    "q231_blocking_report" -> (q231BlockingReport _),
    "q232_stream_association" -> (q232StreamAssociation _),
    "q233_entity_resolution" -> (q233EntityResolution _),
    "q234_gini_by_source" -> (q234GiniBySource _),
    "q235_incremental_entities" -> (q235IncrementalEntities _),
    "q236_fs_decisions" -> (q236FsDecisions _),
    "q237_gini_from_counts" -> (q237GiniFromCounts _),
    "q238_incremental_gini" -> (q238IncrementalGini _),
    "q239_stream_gini" -> (q239StreamGini _),
    "q240_weighted_quantiles_by_group" -> (q240WeightedQuantilesByGroup _),
    "q241_association_by_group" -> (q241AssociationByGroup _),
    "q242_incremental_association" -> (q242IncrementalAssociation _),
    "q243_kendall_tau" -> (q243KendallTau _),
    "q244_incremental_group_quantiles" -> (q244IncrementalGroupQuantiles _),
    "q245_stream_group_quantiles" -> (q245StreamGroupQuantiles _),
    "q246_fs_fuzzy" -> (q246FsFuzzy _),
    "q247_group_gini_from_counts" -> (q247GroupGiniFromCounts _),
    "q248_incremental_group_gini" -> (q248IncrementalGroupGini _),
    "q249_stream_group_gini" -> (q249StreamGroupGini _),
    "q250_incremental_bootstrap_ci" -> (q250IncrementalBootstrapCI _),
    "q251_incremental_group_ci" -> (q251IncrementalGroupCI _),
    "q252_stream_group_ci" -> (q252StreamGroupCI _),
    "q253_fleiss_kappa" -> (q253FleissKappa _),
    "q254_consolidate_labels" -> (q254ConsolidateLabels _),
    "q255_annotator_report" -> (q255AnnotatorReport _),
    "q256_krippendorff_alpha" -> (q256KrippendorffAlpha _),
    "q257_pairwise_wins" -> (q257PairwiseWins _),
    "q258_bradley_terry" -> (q258BradleyTerry _),
    "q259_intransitivity" -> (q259Intransitivity _),
    "q260_hhi_token_mass" -> (q260HhiTokenMass _),
    "q261_hhi_by_source" -> (q261HhiBySource _),
    "q262_theil_token_mass" -> (q262TheilTokenMass _),
    "q263_hhi_from_counts" -> (q263HhiFromCounts _),
    "q264_incremental_hhi" -> (q264IncrementalHhi _),
    "q265_stream_hhi" -> (q265StreamHhi _),
    "q266_incremental_group_association" -> (q266IncrementalGroupAssociation _),
    "q267_stream_group_association" -> (q267StreamGroupAssociation _),
    "q268_theil_by_source" -> (q268TheilBySource _),
    "q269_theil_decomposition" -> (q269TheilDecomposition _),
    "q270_theil_from_counts" -> (q270TheilFromCounts _),
    "q271_incremental_theil" -> (q271IncrementalTheil _),
    "q272_stream_theil" -> (q272StreamTheil _),
    "q273_brier_ece" -> (q273BrierEce _),
    "q274_group_hhi_from_counts" -> (q274GroupHhiFromCounts _),
    "q275_incremental_group_hhi" -> (q275IncrementalGroupHhi _),
    "q276_stream_group_hhi" -> (q276StreamGroupHhi _),
    "q277_group_theil_from_counts" -> (q277GroupTheilFromCounts _),
    "q278_incremental_group_theil" -> (q278IncrementalGroupTheil _),
    "q279_stream_group_theil" -> (q279StreamGroupTheil _),
    "q280_incremental_fleiss" -> (q280IncrementalFleiss _),
    "q281_stream_fleiss" -> (q281StreamFleiss _),
    "q282_incremental_alpha" -> (q282IncrementalAlpha _),
    "q283_stream_alpha" -> (q283StreamAlpha _),
    "q284_incremental_bt" -> (q284IncrementalBt _),
    "q285_stream_bt" -> (q285StreamBt _),
    "q286_incremental_calibration" -> (q286IncrementalCalibration _),
    "q287_stream_calibration" -> (q287StreamCalibration _),
    "q288_incremental_consensus" -> (q288IncrementalConsensus _),
    "q289_stream_consensus" -> (q289StreamConsensus _),
    "q290_calibration_by_source" -> (q290CalibrationBySource _),
    "q291_incremental_group_calibration" -> (q291IncrementalGroupCalibration _),
    "q292_stream_group_calibration" -> (q292StreamGroupCalibration _),
    "q293_weighted_kappa" -> (q293WeightedKappa _),
    "q294_kendall_w" -> (q294KendallW _),
    "q295_vocab_richness" -> (q295VocabRichness _),
    "q296_incremental_vocab" -> (q296IncrementalVocab _),
    "q297_stream_vocab" -> (q297StreamVocab _),
    "q298_rbo" -> (q298Rbo _),
    "q299_kappa_by_lang" -> (q299KappaByLang _),
    "q300_vocab_by_lang" -> (q300VocabByLang _),
    "q301_incremental_group_vocab" -> (q301IncrementalGroupVocab _),
    "q302_stream_group_vocab" -> (q302StreamGroupVocab _),
    "q303_incremental_wins" -> (q303IncrementalWins _),
    "q304_stream_wins" -> (q304StreamWins _),
    "q305_pearson_ols" -> (q305PearsonOls _),
    "q306_incremental_moments" -> (q306IncrementalMoments _),
    "q307_stream_moments" -> (q307StreamMoments _),
    "q308_ols_by_lang" -> (q308OlsByLang _),
    "q309_incremental_group_moments" -> (q309IncrementalGroupMoments _),
    "q310_stream_group_moments" -> (q310StreamGroupMoments _),
    "q311_wasserstein_drift" -> (q311WassersteinDrift _),
    "q312_stream_wasserstein" -> (q312StreamWasserstein _),
    "q313_js_divergence" -> (q313JsDivergence _),
    "q314_stream_jsd" -> (q314StreamJsd _),
    "q315_optimal_threshold" -> (q315OptimalThreshold _),
    "q316_mann_whitney" -> (q316MannWhitney _),
    "q317_stream_mann_whitney" -> (q317StreamMannWhitney _),
    "q318_cvm_drift" -> (q318CvmDrift _),
    "q319_stream_cvm" -> (q319StreamCvm _),
    "q320_average_precision" -> (q320AveragePrecision _),
    "q321_group_ks" -> (q321GroupKs _),
    "q322_stream_group_ks" -> (q322StreamGroupKs _),
    "q323_daily_autocorr" -> (q323DailyAutocorr _),
    "q324_group_wasserstein" -> (q324GroupWasserstein _),
    "q325_stream_group_wasserstein" -> (q325StreamGroupWasserstein _),
    "q326_change_point" -> (q326ChangePoint _),
    "q327_group_autocorr" -> (q327GroupAutocorr _),
    "q328_group_change_point" -> (q328GroupChangePoint _),
    "q329_stream_change_point" -> (q329StreamChangePoint _),
    "q330_benford" -> (q330Benford _),
    "q331_group_jsd" -> (q331GroupJsd _),
    "q332_stream_group_jsd" -> (q332StreamGroupJsd _),
    "q333_hellinger" -> (q333Hellinger _),
    "q334_stream_hellinger" -> (q334StreamHellinger _),
    "q335_quantile_shift" -> (q335QuantileShift _),
    "q336_stream_quantile_shift" -> (q336StreamQuantileShift _),
    "q337_corr_matrix" -> (q337CorrMatrix _),
    "q338_group_mann_whitney" -> (q338GroupMannWhitney _),
    "q339_stream_group_mwu" -> (q339StreamGroupMwu _),
    "q340_group_cvm" -> (q340GroupCvm _),
    "q341_stream_group_cvm" -> (q341StreamGroupCvm _),
    "q342_weighted_ols" -> (q342WeightedOls _),
    "q343_group_hellinger" -> (q343GroupHellinger _),
    "q344_stream_group_hellinger" -> (q344StreamGroupHellinger _),
    "q345_group_benford" -> (q345GroupBenford _),
    "q346_group_threshold" -> (q346GroupThreshold _),
    "q347_group_quantile_shift" -> (q347GroupQuantileShift _),
    "q348_stream_group_quantile_shift" -> (q348StreamGroupQuantileShift _),
    "q349_url_dedup" -> (q349UrlDedup _),
    "q350_domain_rollup" -> (q350DomainRollup _),
    "q351_group_corr_matrix" -> (q351GroupCorrMatrix _),
    "q352_cuped_report" -> (q352CupedReport _),
    "q353_interval_alpha" -> (q353IntervalAlpha _),
    "q354_linear_alpha" -> (q354LinearAlpha _),
    "q355_kaplan_meier" -> (q355KaplanMeier _),
    "q356_group_kaplan_meier" -> (q356GroupKaplanMeier _),
    "q357_logrank" -> (q357LogRank _),
    "q358_domain_cap" -> (q358DomainCap _),
    "q359_incremental_url_dedup" -> (q359IncUrlDedup _),
    "q360_incremental_km" -> (q360IncrementalKm _),
    "q361_stream_km" -> (q361StreamKm _),
    "q362_nelson_aalen" -> (q362NelsonAalen _),
    "q363_rmst" -> (q363Rmst _),
    "q364_spearman_rho" -> (q364SpearmanRho _),
    "q365_group_spearman" -> (q365GroupSpearman _),
    "q366_stream_url_dedup" -> (q366StreamUrlDedup _),
    "q367_cumulative_incidence" -> (q367CumulativeIncidence _),
    "q368_group_rmst" -> (q368GroupRmst _),
    "q369_group_nelson_aalen" -> (q369GroupNelsonAalen _),
    "q370_group_cuped" -> (q370GroupCuped _),
    "q371_logrank_k" -> (q371LogRankK _),
    "q372_stratified_logrank" -> (q372StratifiedLogRank _),
    "q373_unigram_train" -> (q373UnigramTrain _),
    "q374_unigram_encode" -> (q374UnigramEncode _),
    "q375_sequential_ab" -> (q375SequentialAb _),
    "q376_stream_sequential_ab" -> (q376StreamSequentialAb _),
    "q377_logistic_gate" -> (q377LogisticGate _),
    "q378_sketch_quantiles" -> (q378SketchQuantiles _),
    "q379_stream_sketch_quantiles" -> (q379StreamSketchQuantiles _),
    "q380_unigram_ids" -> (q380UnigramIds _),
    "q381_pack_unigram" -> (q381PackUnigram _),
    "q382_group_sketch_quantiles" -> (q382GroupSketchQuantiles _),
    "q383_stream_group_sketch_quantiles" ->
      (q383StreamGroupSketchQuantiles _),
    "q384_byte_bpe_merges" -> (q384ByteBpeMerges _),
    "q385_byte_bpe_encode" -> (q385ByteBpeEncode _),
    "q386_structural_repetition" -> (q386StructuralRepetition _),
    "q387_pack_ffd" -> (q387PackFfd _),
    "q388_greedy_pack_padding" -> (q388GreedyPackPadding _),
    "q389_exact_substring_spans" -> (q389ExactSubstringSpans _),
    "q390_remove_spans" -> (q390RemoveSpans _),
    "q391_gopher_line_rules" -> (q391GopherLineRules _),
    "q392_stream_exact_substring_gate" -> (q392StreamExactSubstringGate _),
    "q393_truncation_recall" -> (q393TruncationRecall _),
    "q394_truncated_rerank" -> (q394TruncatedRerank _),
  )

  /** Shared by q110 (batch semantic decontamination) and q173 (the
    * stream-gated replay) — two formulations, one ground truth: the
    * EXACT full eval x train threshold graph. */
  private val semanticDecontOracle: String =
    """WITH ev AS (
      |  SELECT vec_id + 1000000 AS vec_id,
      |    list_transform(list_zip(embedding, range(1, len(embedding)+1)),
      |      z -> CASE WHEN z[2] = 1
      |           THEN CAST(z[1] * CAST(2 AS REAL) AS REAL) ELSE z[1] END)
      |      AS embedding
      |  FROM embeddings WHERE vec_id % 3 = 0
      |  UNION ALL
      |  SELECT vec_id + 2000000 AS vec_id, list_reverse(embedding) AS embedding
      |  FROM embeddings WHERE vec_id % 3 = 1
      |), en AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM ev
      |), tn AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings
      |), hits AS (
      |  SELECT e.vec_id AS eid, t.vec_id AS tid
      |  FROM en e JOIN tn t ON
      |    list_sum(list_transform(list_zip(e.embedding, t.embedding),
      |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
      |      / (e.nrm * t.nrm) >= 0.9
      |), agg AS (
      |  SELECT eid, COUNT(*) AS n_train_hits, MIN(tid) AS min_train_id
      |  FROM hits GROUP BY eid
      |)
      |SELECT ev.vec_id,
      |  (a.eid IS NOT NULL) AS contaminated,
      |  COALESCE(a.n_train_hits, 0) AS n_train_hits,
      |  a.min_train_id
      |FROM ev LEFT JOIN agg a ON ev.vec_id = a.eid
      |ORDER BY vec_id""".stripMargin

  /** Shared by q180 (batch categorical drift) and q183 (the
    * stream-maintained frequency fold) — two formulations, one ground
    * truth: the q169 pattern at category granularity. */
  private val categoricalDriftOracle: String =
    """WITH rc AS (
      |  SELECT o_orderpriority AS category, COUNT(*) AS n_ref
      |  FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
      |  GROUP BY 1
      |), cc AS (
      |  SELECT o_orderpriority AS category, COUNT(*) AS n_cur
      |  FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  GROUP BY 1
      |), j AS (
      |  SELECT COALESCE(rc.category, cc.category) AS category,
      |    COALESCE(rc.n_ref, 0) AS n_ref, COALESCE(cc.n_cur, 0) AS n_cur
      |  FROM rc FULL OUTER JOIN cc ON rc.category = cc.category
      |), t AS (
      |  SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
      |    CAST(SUM(n_cur) AS BIGINT) AS tc FROM j
      |)
      |SELECT j.category, j.n_ref, j.n_cur,
      |  ROUND((GREATEST(CAST(j.n_ref AS DOUBLE) / CAST(t.tr AS DOUBLE), 1e-6)
      |       - GREATEST(CAST(j.n_cur AS DOUBLE) / CAST(t.tc AS DOUBLE), 1e-6))
      |    * ln(GREATEST(CAST(j.n_ref AS DOUBLE) / CAST(t.tr AS DOUBLE), 1e-6)
      |       / GREATEST(CAST(j.n_cur AS DOUBLE) / CAST(t.tc AS DOUBLE), 1e-6)),
      |    6) AS psi6
      |FROM j CROSS JOIN t ORDER BY j.category""".stripMargin

  /** Shared by q128 (batch drift) and q169 (stream-maintained
    * histogram) - two formulations, one ground truth. */
  private val psiDriftOracle: String =
    """WITH b AS (
      |  SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
      |  FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
      |), rc AS (
      |  SELECT LEAST(GREATEST(CAST(FLOOR(
      |      (o_totalprice - lo) * 20.0 / (hi - lo)) AS INT), 0), 19)
      |      AS bucket,
      |    COUNT(*) AS n_ref
      |  FROM orders, b WHERE o_orderdate < TIMESTAMP '1996-01-01'
      |  GROUP BY 1
      |), cc AS (
      |  SELECT LEAST(GREATEST(CAST(FLOOR(
      |      (o_totalprice - lo) * 20.0 / (hi - lo)) AS INT), 0), 19)
      |      AS bucket,
      |    COUNT(*) AS n_cur
      |  FROM orders, b WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  GROUP BY 1
      |), g AS (
      |  SELECT CAST(UNNEST(range(20)) AS INT) AS bucket
      |), j AS (
      |  SELECT g.bucket, COALESCE(rc.n_ref, 0) AS n_ref,
      |    COALESCE(cc.n_cur, 0) AS n_cur
      |  FROM g LEFT JOIN rc ON g.bucket = rc.bucket
      |         LEFT JOIN cc ON g.bucket = cc.bucket
      |), t AS (
      |  SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
      |    CAST(SUM(n_cur) AS BIGINT) AS tc FROM j
      |)
      |SELECT j.bucket, j.n_ref, j.n_cur,
      |  ROUND((GREATEST(CAST(j.n_ref AS DOUBLE) / CAST(t.tr AS DOUBLE), 1e-6)
      |       - GREATEST(CAST(j.n_cur AS DOUBLE) / CAST(t.tc AS DOUBLE), 1e-6))
      |    * ln(GREATEST(CAST(j.n_ref AS DOUBLE) / CAST(t.tr AS DOUBLE), 1e-6)
      |       / GREATEST(CAST(j.n_cur AS DOUBLE) / CAST(t.tc AS DOUBLE), 1e-6)),
      |    6) AS psi6
      |FROM j, t ORDER BY j.bucket""".stripMargin

  /** q125's oracle — shared verbatim by q184 (the joined formulation
    * of the same exact ground truth must hash-match the literal one). */
  private val q125OracleSql: String = {
    // cosine over a DuckDB list expression, parameterized by the
    // vector expression so the full- and sliced-dim rankings share
    // one definition
    def cos(e: String, q: String) =
      s"""list_sum(list_transform(list_zip($e, $q),
         |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform($e,
         |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |       * sqrt(list_sum(list_transform($q,
         |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       |  WHERE vec_id % 50 = 0
       |), truth AS (
       |  SELECT query_id, item_id, rnk FROM (
       |    SELECT q.query_id, e.vec_id AS item_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
       |        ${cos("e.embedding", "q.qv")} DESC, e.vec_id) AS rnk
       |    FROM embeddings e JOIN q ON e.vec_id <> q.query_id
       |  ) WHERE rnk <= 10
       |), pred AS (
       |  SELECT query_id, item_id, rnk FROM (
       |    SELECT q.query_id, e.vec_id AS item_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
       |        ${cos("e.embedding[1:16]", "q.qv[1:16]")} DESC, e.vec_id) AS rnk
       |    FROM embeddings e JOIN q ON e.vec_id <> q.query_id
       |  ) WHERE rnk <= 10
       |), t AS (
       |  SELECT query_id, COUNT(*) AS n_truth FROM truth GROUP BY 1
       |), h AS (
       |  SELECT p.query_id, COUNT(*) AS n_hits, MIN(p.rnk) AS minr,
       |    SUM(1.0 / log2(CAST(p.rnk AS DOUBLE) + 1.0)) AS dcg
       |  FROM pred p JOIN truth tr
       |    ON p.query_id = tr.query_id AND p.item_id = tr.item_id
       |  GROUP BY 1
       |)
       |SELECT t.query_id AS query_id, t.n_truth, COALESCE(h.n_hits, 0) AS n_hits,
       |  ROUND(COALESCE(h.n_hits, 0) / CAST(t.n_truth AS DOUBLE), 6)
       |    AS recall6,
       |  ROUND(COALESCE(1.0 / CAST(h.minr AS DOUBLE), 0.0), 6) AS mrr6,
       |  ROUND(COALESCE(h.dcg / list_sum(list_transform(
       |    range(1, LEAST(10, CAST(t.n_truth AS INT)) + 1),
       |    r -> 1.0 / log2(CAST(r AS DOUBLE) + 1.0))), 0.0), 6) AS ndcg6
       |FROM t LEFT JOIN h ON t.query_id = h.query_id
       |ORDER BY query_id""".stripMargin
  }

  /** q199's oracle — shared verbatim by q205 (the streaming
    * experiment monitor must hash-match the batch readout). */
  private val abExperimentOracle: String =
    """WITH u AS (
        |  SELECT user_id,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
        |      AS converted
        |  FROM events GROUP BY user_id
        |), h AS (
        |  SELECT converted,
        |    CAST(list_sum(list_transform(range(8), i ->
        |      (strpos('0123456789abcdef',
        |         substr(md5('exp1:' || CAST(user_id AS VARCHAR)),
        |           CAST(i+1 AS INT), 1)) - 1)
        |        * 16**(7-i))) AS BIGINT) AS hv
        |  FROM u
        |), a AS (
        |  SELECT converted,
        |    CASE WHEN hv < 2147483648 THEN 'control'
        |         WHEN hv < 3221225472 THEN 'treat_a'
        |         ELSE 'treat_b' END AS arm
        |  FROM h
        |), g AS (
        |  SELECT arm, COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_pass
        |  FROM a GROUP BY arm
        |), ctl AS (
        |  SELECT CAST(n AS DOUBLE) AS nc, CAST(n_pass AS DOUBLE) AS kc
        |  FROM g WHERE arm = 'control'
        |), w AS (
        |  SELECT arm, n, n_pass,
        |    CAST(n_pass AS DOUBLE) / n AS p, CAST(n AS DOUBLE) AS nd,
        |    ctl.nc, ctl.kc
        |  FROM g, ctl
        |), zc AS (
        |  SELECT *,
        |    (CAST(n_pass AS DOUBLE) + kc) / (nd + nc) AS pool
        |  FROM w
        |)
        |SELECT arm, n, n_pass,
        |  ROUND(p, 6) AS rate6,
        |  ROUND(((p + 1.96*1.96/(2.0*nd))
        |    - 1.96 * sqrt(p*(1.0-p)/nd + 1.96*1.96/(4.0*nd*nd)))
        |    / (1.0 + 1.96*1.96/nd), 6) AS lo6,
        |  ROUND(((p + 1.96*1.96/(2.0*nd))
        |    + 1.96 * sqrt(p*(1.0-p)/nd + 1.96*1.96/(4.0*nd*nd)))
        |    / (1.0 + 1.96*1.96/nd), 6) AS hi6,
        |  CASE WHEN arm = 'control' THEN NULL
        |    WHEN sqrt(pool*(1.0-pool)*(1.0/nd + 1.0/nc)) > 0
        |    THEN ROUND((p - kc/nc)
        |      / sqrt(pool*(1.0-pool)*(1.0/nd + 1.0/nc)), 6)
        |    ELSE NULL END AS z6,
        |  CASE WHEN arm = 'control' THEN NULL
        |    ELSE ABS(ROUND((p - kc/nc)
        |      / sqrt(pool*(1.0-pool)*(1.0/nd + 1.0/nc)), 6)) >= 1.96 END
        |    AS significant
        |FROM zc ORDER BY arm""".stripMargin

  /** q375's oracle — the always-valid (mSPRT) p off the identical
    * hash/count CTEs; shared verbatim by q376 (per-arm counts fold by
    * SUM, so the monitor's final look equals the batch readout). The
    * mixture variance enters as the literal product `0.1*0.1` so both
    * engines square the SAME double. */
  private val sequentialAbOracle: String =
    """WITH u AS (
        |  SELECT user_id,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
        |      AS converted
        |  FROM events GROUP BY user_id
        |), h AS (
        |  SELECT converted,
        |    CAST(list_sum(list_transform(range(8), i ->
        |      (strpos('0123456789abcdef',
        |         substr(md5('exp1:' || CAST(user_id AS VARCHAR)),
        |           CAST(i+1 AS INT), 1)) - 1)
        |        * 16**(7-i))) AS BIGINT) AS hv
        |  FROM u
        |), a AS (
        |  SELECT converted,
        |    CASE WHEN hv < 2147483648 THEN 'control'
        |         WHEN hv < 3221225472 THEN 'treat_a'
        |         ELSE 'treat_b' END AS arm
        |  FROM h
        |), g AS (
        |  SELECT arm, COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_pass
        |  FROM a GROUP BY arm
        |), ctl AS (
        |  SELECT CAST(n AS DOUBLE) AS nc, CAST(n_pass AS DOUBLE) AS kc
        |  FROM g WHERE arm = 'control'
        |), w AS (
        |  SELECT arm, n, n_pass,
        |    CAST(n_pass AS DOUBLE) / n AS p, CAST(n AS DOUBLE) AS nd,
        |    ctl.nc, ctl.kc
        |  FROM g, ctl
        |), vv AS (
        |  SELECT *,
        |    ((CAST(n_pass AS DOUBLE) + kc) / (nd + nc))
        |      * (1.0 - (CAST(n_pass AS DOUBLE) + kc) / (nd + nc))
        |      * (1.0/nd + 1.0/nc) AS v,
        |    p - kc/nc AS th,
        |    0.1*0.1 AS t2
        |  FROM w
        |), pp AS (
        |  SELECT arm, n, n_pass, p,
        |    CASE WHEN arm = 'control' OR v <= 0 THEN NULL
        |      ELSE ROUND(LEAST(1.0, sqrt((v + t2) / v)
        |        * exp(-(th*th) * t2 / (2.0 * v * (v + t2)))), 6)
        |      END AS avp
        |  FROM vv
        |)
        |SELECT arm, n, n_pass, ROUND(p, 6) AS rate6, avp AS av_p6,
        |  CASE WHEN avp IS NULL THEN NULL ELSE avp <= 0.05 END
        |    AS significant
        |FROM pp ORDER BY arm""".stripMargin

  /** q378's oracle — replays the portable hash, the bottom-k sample,
    * the order-statistic pick, and both exact rank counts; shared
    * verbatim by q379 (min-k folds are split-invariant, so the
    * monitor's final state IS the batch sketch). */
  /** q382's oracle — the q378 replay PER GROUP: hash, each group's
    * bottom-k by (hash, id), the order-statistic pick at
    * `LEAST(m, GREATEST(1, CEIL(p·m)))`, both exact rank counts, and
    * the per-group DKW gate; shared verbatim by q383 (keyed min-k
    * folds are split-invariant, so the monitor's final state IS the
    * batch state). */
  private val groupSketchQuantilesOracle: String = {
    val h = hash32Sql("'qsk:' || CAST(event_id AS VARCHAR)")
    s"""WITH s AS MATERIALIZED (
      |  SELECT CAST(event_type AS VARCHAR) AS g, $h AS h,
      |    CAST(event_id AS VARCHAR) AS id, CAST(value AS DOUBLE) AS v
      |  FROM events WHERE value IS NOT NULL
      |), samp AS MATERIALIZED (
      |  SELECT g, v FROM (
      |    SELECT g, v,
      |      ROW_NUMBER() OVER (PARTITION BY g ORDER BY h, id) AS rk
      |    FROM s) WHERE rk <= 256
      |), mm AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS m
      |  FROM samp GROUP BY g),
      |nn AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY g),
      |ord AS (
      |  SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS r
      |  FROM samp
      |), ps(p) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE))),
      |est AS (
      |  SELECT mm.g, p, mm.m, (SELECT o.v FROM ord o
      |    WHERE o.g = mm.g AND o.r = LEAST(mm.m,
      |      GREATEST(1, CAST(CEIL(p * mm.m) AS BIGINT)))) AS est
      |  FROM mm, ps
      |), rk AS (
      |  SELECT e.g, e.p, e.m, e.est,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM s
      |     WHERE s.g = e.g AND s.v <= e.est) AS rnk
      |  FROM est e
      |)
      |SELECT rk.g AS g, rk.p AS p, nn.n, rk.m AS sample_m,
      |  rk.est AS est,
      |  CAST(ABS(rnk - CAST(CEIL(rk.p * nn.n) AS BIGINT)) AS BIGINT)
      |    AS rank_abs_err,
      |  ABS(rnk - CAST(CEIL(rk.p * nn.n) AS BIGINT))
      |    <= CAST(CEIL(4.0 * nn.n / sqrt(256.0)) AS BIGINT)
      |    AS within_bound
      |FROM rk JOIN nn ON rk.g = nn.g ORDER BY g, p""".stripMargin
  }

  private val sketchQuantilesOracle: String = {
    val h = hash32Sql("'qsk:' || CAST(event_id AS VARCHAR)")
    s"""WITH s AS MATERIALIZED (
      |  SELECT $h AS h, CAST(event_id AS VARCHAR) AS id,
      |    CAST(value AS DOUBLE) AS v
      |  FROM events WHERE value IS NOT NULL
      |), samp AS MATERIALIZED (
      |  SELECT v FROM s ORDER BY h, id LIMIT 1024
      |), mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM samp),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
      |ord AS (
      |  SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS r FROM samp
      |), ps(p) AS (VALUES (CAST(0.25 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
      |  (CAST(0.9 AS DOUBLE))),
      |est AS (
      |  SELECT p, (SELECT o.v FROM ord o, mm
      |    WHERE o.r = LEAST(mm.m,
      |      GREATEST(1, CAST(CEIL(p * mm.m) AS BIGINT)))) AS est
      |  FROM ps
      |), rk AS (
      |  SELECT e.p, e.est,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM s
      |     WHERE s.v <= e.est) AS rnk
      |  FROM est e
      |)
      |SELECT rk.p, nn.n, mm.m AS sample_m, rk.est,
      |  CAST(ABS(rnk - CAST(CEIL(rk.p * nn.n) AS BIGINT)) AS BIGINT)
      |    AS rank_abs_err,
      |  ABS(rnk - CAST(CEIL(rk.p * nn.n) AS BIGINT))
      |    <= CAST(CEIL(4.0 * nn.n / sqrt(1024.0)) AS BIGINT)
      |    AS within_bound
      |FROM rk, mm, nn ORDER BY rk.p""".stripMargin
  }

  /** q387's oracle: replays [[graft.operators.Corpus
    * .packFirstFitDecreasing]] EXACTLY — the portable-hash shard, the
    * (count DESC, id ASC) order, and the first-fit-decreasing
    * recurrence itself as a recursive CTE that advances one document
    * per level in every shard simultaneously, carrying each shard's
    * bin-fill LIST as state (`list_transform` updates the chosen bin,
    * `list_append` opens a new one; the chosen bin is the MIN index
    * whose fill still accepts the doc — literally the first-fit
    * rule). Then the per-bin padding report on top. */
  private val packFfdOracle: String = {
    val h = hash32Sql("id")
    s"""WITH t AS (
      |  SELECT CAST(doc_id AS VARCHAR) AS id,
      |    CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS n
      |  FROM documents
      |), sh AS (
      |  SELECT id, n, CAST($h % 4 AS INT) AS shard FROM t
      |), ordered AS MATERIALIZED (
      |  SELECT id, n, shard,
      |    row_number() OVER (PARTITION BY shard ORDER BY n DESC, id ASC)
      |      AS rn
      |  FROM sh
      |), rec AS MATERIALIZED (
      |  WITH RECURSIVE st(shard, rn, id, n, bin, bins) AS (
      |    SELECT shard, 0, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
      |      CAST(NULL AS INT), CAST([] AS BIGINT[])
      |    FROM (SELECT DISTINCT shard FROM ordered)
      |    UNION ALL
      |    SELECT o.shard, o.rn, o.id, o.n,
      |      CAST(CASE WHEN j <= len(s.bins) THEN j
      |                ELSE len(s.bins) + 1 END AS INT),
      |      CASE WHEN j <= len(s.bins)
      |           THEN list_transform(s.bins,
      |             (x, i) -> CASE WHEN i = j THEN x + o.n ELSE x END)
      |           ELSE list_append(s.bins, o.n) END
      |    FROM st s
      |    JOIN ordered o ON o.shard = s.shard AND o.rn = s.rn + 1,
      |    LATERAL (SELECT COALESCE(list_min(list_transform(s.bins,
      |      (x, i) -> CASE WHEN x + o.n <= 256 THEN i END)),
      |      2147483647) AS j) l
      |  )
      |  SELECT shard, id, n, bin FROM st WHERE rn > 0
      |), rep AS (
      |  SELECT shard, bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n) AS BIGINT) AS fill
      |  FROM rec GROUP BY shard, bin
      |)
      |SELECT CAST(a.id AS BIGINT) AS doc_id, a.n, a.shard, a.bin,
      |  r.n_docs, r.fill,
      |  GREATEST(256 - r.fill, 0) AS padding,
      |  CAST(GREATEST(256 - r.fill, 0) AS DOUBLE) / 256.0 AS padding_frac
      |FROM rec a JOIN rep r ON a.shard = r.shard AND a.bin = r.bin
      |ORDER BY doc_id""".stripMargin
  }

  /** q389/q390's shared replay: the planted-suffix corpus, every
    * 7-gram anchor joined by STRING (full recall — the engine's
    * hashed join + verification walk must land on the identical
    * set), both extensions replayed position-by-position, deduped to
    * maximal spans (`spans`). */
  private val exactSpansCte: String =
    """WITH d2 AS (
      |  SELECT doc_id, text ||
      |    CASE WHEN doc_id % 23 = 5
      |         THEN ' the quick brown fox jumps over the lazy dog end'
      |         WHEN doc_id % 29 = 11
      |         THEN ' shared boilerplate legal notice terms apply here now'
      |         ELSE '' END AS t2
      |  FROM documents
      |), tk AS MATERIALIZED (
      |  SELECT doc_id, string_split_regex(trim(t2), ' +') AS toks FROM d2
      |), la AS MATERIALIZED (
      |  SELECT doc_id AS lid, toks AS lt, CAST(i + 1 AS BIGINT) AS lp,
      |    array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 7 AS INT)], ' ')
      |      AS g
      |  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 6)) AS i
      |        FROM tk WHERE doc_id % 7 = 3)
      |), ra AS MATERIALIZED (
      |  SELECT doc_id AS rid, toks AS rt, CAST(i + 1 AS BIGINT) AS rp,
      |    array_to_string(toks[CAST(i + 1 AS INT):CAST(i + 7 AS INT)], ' ')
      |      AS g
      |  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 6)) AS i
      |        FROM tk WHERE doc_id % 7 != 3)
      |), ext AS (
      |  SELECT lid, rid, lp, rp, lt, rt,
      |    LEAST(lp, rp) - 1 AS liml,
      |    LEAST(len(lt) - lp - 6, len(rt) - rp - 6) AS limr
      |  FROM la JOIN ra ON la.g = ra.g
      |), e2 AS (
      |  SELECT lid, rid, lp, rp,
      |    CASE WHEN liml < 1 THEN 0 ELSE (
      |      CASE WHEN ml > 0 THEN ml - 1 ELSE liml END) END AS el,
      |    CASE WHEN limr < 1 THEN 0 ELSE (
      |      CASE WHEN mr > 0 THEN mr - 1 ELSE limr END) END AS er
      |  FROM ext, LATERAL (SELECT
      |    COALESCE(list_position(list_transform(range(1, liml + 1),
      |      i -> lt[CAST(lp - i AS INT)] = rt[CAST(rp - i AS INT)]),
      |      false), 0) AS ml,
      |    COALESCE(list_position(list_transform(range(1, limr + 1),
      |      i -> lt[CAST(lp + 6 + i AS INT)] = rt[CAST(rp + 6 + i AS INT)]),
      |      false), 0) AS mr) x
      |), spans AS MATERIALIZED (
      |  SELECT DISTINCT lid AS left_id, rid AS right_id,
      |    CAST(lp - el AS BIGINT) AS left_start,
      |    CAST(rp - el AS BIGINT) AS right_start,
      |    CAST(el + 7 + er AS BIGINT) AS span_len
      |  FROM e2
      |)""".stripMargin

  private val exactSpansOracle: String = exactSpansCte +
    """
      |SELECT left_id, right_id, left_start, right_start, span_len
      |FROM spans
      |ORDER BY left_id, right_id, left_start, right_start""".stripMargin

  /** q390's oracle: q389's span replay, then the coverage test and
    * token-by-token rebuild of every train doc. */
  private val removeSpansOracle: String = exactSpansCte +
    """, tr AS (
      |  SELECT doc_id, toks FROM tk WHERE doc_id % 7 != 3
      |), pos AS (
      |  SELECT doc_id, toks, unnest(range(len(toks))) AS p0 FROM tr
      |), kept AS (
      |  SELECT doc_id, p0, toks[CAST(p0 + 1 AS INT)] AS tok
      |  FROM pos w
      |  WHERE NOT EXISTS (SELECT 1 FROM spans s
      |    WHERE s.right_id = w.doc_id
      |      AND w.p0 + 1 >= s.right_start
      |      AND w.p0 + 1 < s.right_start + s.span_len)
      |), agg AS (
      |  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_kept,
      |    string_agg(tok, ' ' ORDER BY p0) AS cleaned
      |  FROM kept GROUP BY doc_id
      |)
      |SELECT t.doc_id, CAST(len(t.toks) AS INT) AS n_tokens,
      |  CAST(len(t.toks) - COALESCE(a.n_kept, 0) AS INT) AS n_removed,
      |  COALESCE(a.cleaned, '') AS cleaned_text
      |FROM tr t LEFT JOIN agg a USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  /** q196's oracle — shared verbatim by q198 (the streaming fold must
    * hash-match the batch statistic). */
  private val ksDriftOracle: String =
    """WITH a AS (
      |  SELECT value AS v, COUNT(*) AS ca FROM events
      |  WHERE epoch_us(ts) < 1705363200000000 AND value IS NOT NULL
      |  GROUP BY 1
      |), bb AS (
      |  SELECT value AS v, COUNT(*) AS cb FROM events
      |  WHERE epoch_us(ts) >= 1705363200000000 AND value IS NOT NULL
      |  GROUP BY 1
      |), m AS (
      |  SELECT COALESCE(a.v, bb.v) AS v, COALESCE(ca, 0) AS ca,
      |    COALESCE(cb, 0) AS cb
      |  FROM a FULL OUTER JOIN bb ON a.v = bb.v
      |), t AS (
      |  SELECT CAST(SUM(ca) AS BIGINT) AS na,
      |    CAST(SUM(cb) AS BIGINT) AS nb FROM m
      |), c AS (
      |  SELECT
      |    SUM(ca) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
      |    SUM(cb) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
      |  FROM m
      |)
      |SELECT t.na AS n_ref, t.nb AS n_cur,
      |  ROUND(MAX(ABS(CAST(cuma AS DOUBLE) / CAST(t.na AS DOUBLE)
      |    - CAST(cumb AS DOUBLE) / CAST(t.nb AS DOUBLE))), 6) AS ks6
      |FROM c, t GROUP BY t.na, t.nb""".stripMargin

  /** Shared by q305 (batch Pearson/OLS), q306 (the incremental moment
    * fold), and q307 (the streaming monitor) — the statistics depend
    * on the corpus only through the five SUM-foldable moments, so all
    * three formulations are held to this one replay: the moment sums
    * as 12dp-rounded decimals, then the uncentered closed forms
    * operation-for-operation. */
  private val momentsOracle: String =
    """WITH b AS (
      |  SELECT CAST(n_chars AS DOUBLE) AS x,
      |    CAST(len(string_split_regex(trim(text), ' +')) AS DOUBLE) AS y
      |  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL
      |), s AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(ROUND(x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(ROUND(y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(ROUND(x*x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(ROUND(y*y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(ROUND(x*y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy
      |  FROM b
      |), f AS (
      |  SELECT n, sx, sy, CAST(n AS DOUBLE) AS nd,
      |    CAST(n AS DOUBLE) * sxy - sx * sy AS covn,
      |    CAST(n AS DOUBLE) * sxx - sx * sx AS varxn,
      |    CAST(n AS DOUBLE) * syy - sy * sy AS varyn
      |  FROM s
      |)
      |SELECT n, ROUND(sx / nd, 6) AS mean_x6, ROUND(sy / nd, 6) AS mean_y6,
      |  CASE WHEN varxn > 0 AND varyn > 0
      |    THEN ROUND(covn / sqrt(varxn * varyn), 6) END AS pearson_r6,
      |  CASE WHEN varxn > 0 THEN ROUND(covn / varxn, 6) END AS slope6,
      |  CASE WHEN varxn > 0
      |    THEN ROUND((sy - (covn / varxn) * sx) / nd, 6) END AS intercept6
      |FROM f""".stripMargin

  /** Shared by q308 (per-language Pearson/OLS), q309 (the per-group
    * moment fold), and q310 (the streaming group monitor) — the
    * per-group twin of [[momentsOracle]], one row per language. */
  private val groupMomentsOracle: String =
    """WITH b AS (
      |  SELECT lang AS g, CAST(n_chars AS DOUBLE) AS x,
      |    CAST(len(string_split_regex(trim(text), ' +')) AS DOUBLE) AS y
      |  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL
      |), s AS (
      |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(ROUND(x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(ROUND(y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(ROUND(x*x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(ROUND(y*y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(ROUND(x*y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy
      |  FROM b GROUP BY g
      |), f AS (
      |  SELECT g, n, sx, sy, CAST(n AS DOUBLE) AS nd,
      |    CAST(n AS DOUBLE) * sxy - sx * sy AS covn,
      |    CAST(n AS DOUBLE) * sxx - sx * sx AS varxn,
      |    CAST(n AS DOUBLE) * syy - sy * sy AS varyn
      |  FROM s
      |)
      |SELECT g, n, ROUND(sx / nd, 6) AS mean_x6, ROUND(sy / nd, 6) AS mean_y6,
      |  CASE WHEN n >= 2 AND varxn > 0 AND varyn > 0
      |    THEN ROUND(covn / sqrt(varxn * varyn), 6) END AS pearson_r6,
      |  CASE WHEN n >= 2 AND varxn > 0
      |    THEN ROUND(covn / varxn, 6) END AS slope6,
      |  CASE WHEN n >= 2 AND varxn > 0
      |    THEN ROUND((sy - (covn / varxn) * sx) / nd, 6) END AS intercept6
      |FROM f ORDER BY g""".stripMargin

  /** Shared by q311 (batch 1-Wasserstein drift) and q312 (the
    * streaming replay) — the integral depends on the samples only
    * through the SUM-foldable distinct-value counts: exclusive
    * prefixes are the CDF at the previous grid value, the gap terms
    * are 12dp-rounded decimals. */
  private val wassersteinOracle: String =
    """WITH a AS (
      |  SELECT value AS v, COUNT(*) AS ca FROM events
      |  WHERE epoch_us(ts) < 1705363200000000 AND value IS NOT NULL
      |  GROUP BY 1
      |), bb AS (
      |  SELECT value AS v, COUNT(*) AS cb FROM events
      |  WHERE epoch_us(ts) >= 1705363200000000 AND value IS NOT NULL
      |  GROUP BY 1
      |), m AS (
      |  SELECT COALESCE(a.v, bb.v) AS v, COALESCE(ca, 0) AS ca,
      |    COALESCE(cb, 0) AS cb
      |  FROM a FULL OUTER JOIN bb ON a.v = bb.v
      |), t AS (
      |  SELECT CAST(SUM(ca) AS BIGINT) AS na,
      |    CAST(SUM(cb) AS BIGINT) AS nb FROM m
      |), c AS (
      |  SELECT v, LAG(v) OVER (ORDER BY v) AS pv,
      |    COALESCE(SUM(ca) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pa,
      |    COALESCE(SUM(cb) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pb
      |  FROM m
      |), terms AS (
      |  SELECT CASE WHEN pv IS NULL THEN CAST(0 AS DECIMAL(38,12))
      |    ELSE CAST(ROUND(ABS(CAST(pa AS DOUBLE) / CAST(t.na AS DOUBLE)
      |        - CAST(pb AS DOUBLE) / CAST(t.nb AS DOUBLE)) * (v - pv), 12)
      |      AS DECIMAL(38,12)) END AS tt
      |  FROM c, t
      |)
      |SELECT t.na AS n_ref, t.nb AS n_cur,
      |  ROUND(CAST(SUM(tt) AS DOUBLE), 6) AS w1_6
      |FROM terms, t GROUP BY t.na, t.nb""".stripMargin

  /** Shared by q313 (batch Jensen–Shannon drift) and q314 (the
    * streaming replay) — the divergence depends on the mixes only
    * through the SUM-foldable category counts. */
  private val jsdOracle: String =
    """WITH rc AS (
      |  SELECT o_orderpriority AS category, COUNT(*) AS ca
      |  FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
      |  GROUP BY 1
      |), cc AS (
      |  SELECT o_orderpriority AS category, COUNT(*) AS cb
      |  FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  GROUP BY 1
      |), m AS (
      |  SELECT COALESCE(rc.ca, 0) AS ca, COALESCE(cc.cb, 0) AS cb
      |  FROM rc FULL OUTER JOIN cc
      |  ON rc.category IS NOT DISTINCT FROM cc.category
      |), t AS (
      |  SELECT CAST(SUM(ca) AS BIGINT) AS na,
      |    CAST(SUM(cb) AS BIGINT) AS nb,
      |    CAST(COUNT(*) AS BIGINT) AS k FROM m
      |), terms AS (
      |  SELECT CAST(ROUND(
      |      CASE WHEN ca > 0 THEN
      |        0.5 * (CAST(ca AS DOUBLE) / CAST(t.na AS DOUBLE))
      |          * ln((CAST(ca AS DOUBLE) / CAST(t.na AS DOUBLE))
      |            / ((CAST(ca AS DOUBLE) / CAST(t.na AS DOUBLE)
      |              + CAST(cb AS DOUBLE) / CAST(t.nb AS DOUBLE)) / 2.0))
      |      ELSE 0.0 END
      |      + CASE WHEN cb > 0 THEN
      |        0.5 * (CAST(cb AS DOUBLE) / CAST(t.nb AS DOUBLE))
      |          * ln((CAST(cb AS DOUBLE) / CAST(t.nb AS DOUBLE))
      |            / ((CAST(ca AS DOUBLE) / CAST(t.na AS DOUBLE)
      |              + CAST(cb AS DOUBLE) / CAST(t.nb AS DOUBLE)) / 2.0))
      |      ELSE 0.0 END, 12) AS DECIMAL(38,12)) AS tt
      |  FROM m, t
      |)
      |SELECT t.na AS n_ref, t.nb AS n_cur, t.k AS n_categories,
      |  ROUND(CAST(SUM(tt) AS DOUBLE), 6) AS jsd6
      |FROM terms, t GROUP BY t.na, t.nb, t.k""".stripMargin

  /** Shared by q316 (batch Mann–Whitney) and q317 (the streaming
    * replay) — 2U and the tie cubes are exact-integer SUMs over the
    * foldable value-count grid; the z replays the tie-corrected
    * closed form operation-for-operation. */
  private val mannWhitneyOracle: String =
    """WITH a AS (
      |  SELECT value AS v, COUNT(*) AS ca FROM events
      |  WHERE epoch_us(ts) < 1705363200000000 AND value IS NOT NULL
      |  GROUP BY 1
      |), bb AS (
      |  SELECT value AS v, COUNT(*) AS cb FROM events
      |  WHERE epoch_us(ts) >= 1705363200000000 AND value IS NOT NULL
      |  GROUP BY 1
      |), m AS (
      |  SELECT COALESCE(a.v, bb.v) AS v, COALESCE(ca, 0) AS ca,
      |    COALESCE(cb, 0) AS cb
      |  FROM a FULL OUTER JOIN bb ON a.v = bb.v
      |), t AS (
      |  SELECT CAST(SUM(ca) AS BIGINT) AS na,
      |    CAST(SUM(cb) AS BIGINT) AS nb FROM m
      |), c AS (
      |  SELECT ca, cb,
      |    COALESCE(SUM(cb) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pb
      |  FROM m
      |), s AS (
      |  SELECT
      |    CAST(SUM(CAST(ca AS HUGEINT) * (2 * pb + cb)) AS DOUBLE) AS u2,
      |    CAST(SUM(CAST(ca + cb AS HUGEINT) * (ca + cb) * (ca + cb)
      |      - (ca + cb)) AS DOUBLE) AS tie
      |  FROM c
      |), f AS (
      |  SELECT t.na, t.nb, s.u2, s.tie,
      |    CAST(t.na AS DOUBLE) AS nad, CAST(t.nb AS DOUBLE) AS nbd,
      |    CAST(t.na AS DOUBLE) + CAST(t.nb AS DOUBLE) AS n
      |  FROM s, t
      |)
      |SELECT na AS n_ref, nb AS n_cur, u2 AS u_x2,
      |  ROUND(u2 / (nad * nbd) - 1.0, 6) AS cliffs_delta6,
      |  CASE WHEN nad * nbd / 12.0 * ((n + 1.0) - tie / (n * (n - 1.0))) > 0
      |    THEN ROUND((u2 / 2.0 - nad * nbd / 2.0)
      |      / sqrt(nad * nbd / 12.0
      |        * ((n + 1.0) - tie / (n * (n - 1.0)))), 6)
      |  END AS z6
      |FROM f""".stripMargin

  /** Shared by q318 (batch Cramér–von Mises) and q319 (the streaming
    * replay) — inclusive CDFs off the foldable grid, squared-gap
    * terms against the pooled mass, 12dp-rounded decimals. */
  private val cvmOracle: String =
    """WITH a AS (
      |  SELECT value AS v, COUNT(*) AS ca FROM events
      |  WHERE epoch_us(ts) < 1705363200000000 AND value IS NOT NULL
      |  GROUP BY 1
      |), bb AS (
      |  SELECT value AS v, COUNT(*) AS cb FROM events
      |  WHERE epoch_us(ts) >= 1705363200000000 AND value IS NOT NULL
      |  GROUP BY 1
      |), m AS (
      |  SELECT COALESCE(a.v, bb.v) AS v, COALESCE(ca, 0) AS ca,
      |    COALESCE(cb, 0) AS cb
      |  FROM a FULL OUTER JOIN bb ON a.v = bb.v
      |), t AS (
      |  SELECT CAST(SUM(ca) AS BIGINT) AS na,
      |    CAST(SUM(cb) AS BIGINT) AS nb FROM m
      |), c AS (
      |  SELECT ca, cb,
      |    SUM(ca) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
      |    SUM(cb) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
      |  FROM m
      |), terms AS (
      |  SELECT CAST(ROUND(CAST(ca + cb AS DOUBLE) *
      |      ((CAST(cuma AS DOUBLE) / CAST(t.na AS DOUBLE)
      |        - CAST(cumb AS DOUBLE) / CAST(t.nb AS DOUBLE))
      |       * (CAST(cuma AS DOUBLE) / CAST(t.na AS DOUBLE)
      |        - CAST(cumb AS DOUBLE) / CAST(t.nb AS DOUBLE))), 12)
      |    AS DECIMAL(38,12)) AS tt
      |  FROM c, t
      |)
      |SELECT t.na AS n_ref, t.nb AS n_cur,
      |  ROUND(CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE)
      |    / ((CAST(t.na AS DOUBLE) + CAST(t.nb AS DOUBLE))
      |      * (CAST(t.na AS DOUBLE) + CAST(t.nb AS DOUBLE)))
      |    * CAST(SUM(tt) AS DOUBLE), 6) AS cvm6
      |FROM terms, t GROUP BY t.na, t.nb""".stripMargin

  /** Shared by q321 (batch per-group KS) and q322 (the streaming
    * replay) — per-group sup-gaps off the group-keyed SUM-foldable
    * value counts; GROUP BY (never a join) so a NULL group meets
    * itself. */
  private val groupKsOracle: String =
    """WITH a AS (
      |  SELECT event_type AS g, value AS v, COUNT(*) AS ca FROM events
      |  WHERE epoch_us(ts) < 1705363200000000 AND value IS NOT NULL
      |  GROUP BY 1, 2
      |), bb AS (
      |  SELECT event_type AS g, value AS v, COUNT(*) AS cb FROM events
      |  WHERE epoch_us(ts) >= 1705363200000000 AND value IS NOT NULL
      |  GROUP BY 1, 2
      |), m AS (
      |  SELECT g, v, SUM(ca) AS ca, SUM(cb) AS cb FROM (
      |    SELECT g, v, ca, 0 AS cb FROM a
      |    UNION ALL SELECT g, v, 0 AS ca, cb FROM bb)
      |  GROUP BY g, v
      |), c AS (
      |  SELECT g,
      |    SUM(ca) OVER (PARTITION BY g ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
      |    SUM(cb) OVER (PARTITION BY g ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
      |    SUM(ca) OVER (PARTITION BY g) AS na,
      |    SUM(cb) OVER (PARTITION BY g) AS nb
      |  FROM m
      |)
      |SELECT g, CAST(MAX(na) AS BIGINT) AS n_ref,
      |  CAST(MAX(nb) AS BIGINT) AS n_cur,
      |  CASE WHEN MAX(na) > 0 AND MAX(nb) > 0
      |    THEN ROUND(MAX(ABS(CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE)
      |      - CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE))), 6)
      |  END AS ks6
      |FROM c GROUP BY g ORDER BY g""".stripMargin

  /** Shared by q324 (batch per-group 1-Wasserstein) and q325 (the
    * streaming replay) — per-group transport integrals off the
    * group-keyed SUM-foldable value counts; a term fires only inside
    * a group (the LAG is group-partitioned) and on two-sided
    * groups. */
  private val groupWassersteinOracle: String =
    """WITH a AS (
      |  SELECT event_type AS g, value AS v, COUNT(*) AS ca FROM events
      |  WHERE epoch_us(ts) < 1705363200000000 AND value IS NOT NULL
      |  GROUP BY 1, 2
      |), bb AS (
      |  SELECT event_type AS g, value AS v, COUNT(*) AS cb FROM events
      |  WHERE epoch_us(ts) >= 1705363200000000 AND value IS NOT NULL
      |  GROUP BY 1, 2
      |), m AS (
      |  SELECT g, v, SUM(ca) AS ca, SUM(cb) AS cb FROM (
      |    SELECT g, v, ca, 0 AS cb FROM a
      |    UNION ALL SELECT g, v, 0 AS ca, cb FROM bb)
      |  GROUP BY g, v
      |), c AS (
      |  SELECT g, v,
      |    LAG(v) OVER (PARTITION BY g ORDER BY v) AS pv,
      |    COALESCE(SUM(ca) OVER (PARTITION BY g ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pa,
      |    COALESCE(SUM(cb) OVER (PARTITION BY g ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pb,
      |    SUM(ca) OVER (PARTITION BY g) AS na,
      |    SUM(cb) OVER (PARTITION BY g) AS nb
      |  FROM m
      |), terms AS (
      |  SELECT g, na, nb,
      |    CASE WHEN pv IS NOT NULL AND na > 0 AND nb > 0
      |      THEN CAST(ROUND(ABS(CAST(pa AS DOUBLE) / CAST(na AS DOUBLE)
      |        - CAST(pb AS DOUBLE) / CAST(nb AS DOUBLE)) * (v - pv), 12)
      |        AS DECIMAL(38,12)) END AS tt
      |  FROM c
      |)
      |SELECT g, CAST(MAX(na) AS BIGINT) AS n_ref,
      |  CAST(MAX(nb) AS BIGINT) AS n_cur,
      |  CASE WHEN MAX(na) > 0 AND MAX(nb) > 0
      |    THEN ROUND(CAST(COALESCE(SUM(tt), 0) AS DOUBLE), 6) END AS w1_6
      |FROM terms GROUP BY g ORDER BY g""".stripMargin

  /** Shared by q326 (batch CUSUM change-point scan) and q329 (the
    * streaming replay) — the scan depends on the feed only through
    * the SUM-foldable per-day exact-decimal sums; the fixed-pointing,
    * every excursion, and the earliest-k argmax replay verbatim. */
  private val changePointOracle: String =
    """WITH d AS (
      |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |    CAST(SUM(CAST(ROUND(value, 12) AS DECIMAL(38,12))) AS DOUBLE)
      |      AS dv
      |  FROM events WHERE value IS NOT NULL GROUP BY 1
      |), s AS (
      |  SELECT day,
      |    CAST(CAST(ROUND(dv, 6) AS DECIMAL(28,6)) * 1000000 AS BIGINT)
      |      AS vl,
      |    ROW_NUMBER() OVER (ORDER BY day) - 1 AS rid
      |  FROM d
      |), t AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(vl) AS BIGINT) AS sn FROM s
      |), c AS (
      |  SELECT day, rid,
      |    SUM(vl) OVER (ORDER BY rid
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sk
      |  FROM s
      |), nums AS (
      |  SELECT day, rid,
      |    ABS(CAST(sk AS HUGEINT) * t.n
      |      - CAST(rid + 1 AS HUGEINT) * t.sn) AS num
      |  FROM c, t
      |)
      |SELECT t.n AS n, CAST(rid + 1 AS BIGINT) AS k, day,
      |  ROUND(CAST(num AS DOUBLE)
      |    / (CAST(t.n AS DOUBLE) * 1000000.0), 6) AS cusum6
      |FROM nums, t ORDER BY num DESC, rid LIMIT 1""".stripMargin

  /** Shared by q331 (batch per-group JSD) and q332 (the streaming
    * replay) — per-group divergences off the group-keyed SUM-foldable
    * category counts; group totals per-row window values. */
  private val groupJsdOracle: String =
    """WITH rc AS (
      |  SELECT o_orderstatus AS g, o_orderpriority AS category,
      |    COUNT(*) AS ca
      |  FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
      |  GROUP BY 1, 2
      |), cc AS (
      |  SELECT o_orderstatus AS g, o_orderpriority AS category,
      |    COUNT(*) AS cb
      |  FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  GROUP BY 1, 2
      |), m AS (
      |  SELECT g, category, SUM(ca) AS ca, SUM(cb) AS cb FROM (
      |    SELECT g, category, ca, 0 AS cb FROM rc
      |    UNION ALL SELECT g, category, 0 AS ca, cb FROM cc)
      |  GROUP BY g, category
      |), c AS (
      |  SELECT g, ca, cb,
      |    SUM(ca) OVER (PARTITION BY g) AS na,
      |    SUM(cb) OVER (PARTITION BY g) AS nb,
      |    COUNT(*) OVER (PARTITION BY g) AS k
      |  FROM m
      |), terms AS (
      |  SELECT g, na, nb, k,
      |    CASE WHEN na > 0 AND nb > 0 THEN CAST(ROUND(
      |      CASE WHEN ca > 0 THEN
      |        0.5 * (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
      |          * ln((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
      |            / ((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
      |              + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) / 2.0))
      |      ELSE 0.0 END
      |      + CASE WHEN cb > 0 THEN
      |        0.5 * (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
      |          * ln((CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
      |            / ((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
      |              + CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)) / 2.0))
      |      ELSE 0.0 END, 12) AS DECIMAL(38,12)) END AS tt
      |  FROM c
      |)
      |SELECT g, CAST(MAX(na) AS BIGINT) AS n_ref,
      |  CAST(MAX(nb) AS BIGINT) AS n_cur,
      |  CAST(MAX(k) AS BIGINT) AS n_categories,
      |  CASE WHEN MAX(na) > 0 AND MAX(nb) > 0
      |    THEN ROUND(CAST(COALESCE(SUM(tt), 0) AS DOUBLE), 6) END AS jsd6
      |FROM terms GROUP BY g ORDER BY g""".stripMargin

  /** Shared by q333 (batch Hellinger) and q334 (the streaming
    * replay) — the Bhattacharyya terms are SUMs over the foldable
    * category counts. */
  private val hellingerOracle: String =
    """WITH rc AS (
      |  SELECT o_orderpriority AS category, COUNT(*) AS ca
      |  FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
      |  GROUP BY 1
      |), cc AS (
      |  SELECT o_orderpriority AS category, COUNT(*) AS cb
      |  FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  GROUP BY 1
      |), m AS (
      |  SELECT COALESCE(rc.ca, 0) AS ca, COALESCE(cc.cb, 0) AS cb
      |  FROM rc FULL OUTER JOIN cc
      |  ON rc.category IS NOT DISTINCT FROM cc.category
      |), t AS (
      |  SELECT CAST(SUM(ca) AS BIGINT) AS na,
      |    CAST(SUM(cb) AS BIGINT) AS nb,
      |    CAST(COUNT(*) AS BIGINT) AS k FROM m
      |), terms AS (
      |  SELECT CAST(ROUND(sqrt((CAST(ca AS DOUBLE) / CAST(t.na AS DOUBLE))
      |      * (CAST(cb AS DOUBLE) / CAST(t.nb AS DOUBLE))), 12)
      |    AS DECIMAL(38,12)) AS tt
      |  FROM m, t
      |), bcagg AS (
      |  SELECT CAST(SUM(tt) AS DOUBLE) AS bc FROM terms
      |)
      |SELECT t.na AS n_ref, t.nb AS n_cur, t.k AS n_categories,
      |  ROUND(bc, 6) AS bc6,
      |  ROUND(sqrt(GREATEST(1.0 - bc, 0.0)), 6) AS hellinger6
      |FROM bcagg, t""".stripMargin

  /** Shared by q335 (batch quantile-shift) and q336 (the streaming
    * replay) — both sides replay the discrete-rank rule off the
    * SUM-foldable value counts; the shift is one subtraction. */
  private val quantileShiftOracle: String =
    """WITH a AS (
      |  SELECT CAST(value AS DOUBLE) AS v, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events
      |  WHERE epoch_us(ts) < 1705363200000000 AND value IS NOT NULL
      |  GROUP BY v
      |), bb AS (
      |  SELECT CAST(value AS DOUBLE) AS v, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events
      |  WHERE epoch_us(ts) >= 1705363200000000 AND value IS NOT NULL
      |  GROUP BY v
      |), ps AS (
      |  SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS p
      |), cuma AS (
      |  SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum FROM a
      |), nna AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM a
      |), qa AS (
      |  SELECT ps.p AS p, nna.n AS n_ref, MIN(cuma.v) AS q_ref
      |  FROM ps CROSS JOIN nna CROSS JOIN cuma
      |  WHERE cuma.cum >= GREATEST(CAST(CEIL(ps.p * nna.n) AS BIGINT), 1)
      |  GROUP BY ps.p, nna.n
      |), cumb AS (
      |  SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum FROM bb
      |), nnb AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM bb
      |), qb AS (
      |  SELECT ps.p AS p, nnb.n AS n_cur, MIN(cumb.v) AS q_cur
      |  FROM ps CROSS JOIN nnb CROSS JOIN cumb
      |  WHERE cumb.cum >= GREATEST(CAST(CEIL(ps.p * nnb.n) AS BIGINT), 1)
      |  GROUP BY ps.p, nnb.n
      |)
      |SELECT qa.p AS p, qa.n_ref, qb.n_cur, qa.q_ref, qb.q_cur,
      |  ROUND(qb.q_cur - qa.q_ref, 6) AS shift6
      |FROM qa JOIN qb ON qa.p = qb.p ORDER BY p""".stripMargin

  /** Shared by q338 (batch per-group Mann–Whitney) and q339 (the
    * streaming replay) — per-group 2U and tie cubes are exact-integer
    * SUMs over the group-keyed foldable counts; the tie term carries
    * the same explicit n>1 guard the operator runs. */
  private val groupMannWhitneyOracle: String =
    """WITH a AS (
      |  SELECT event_type AS g, value AS v, COUNT(*) AS ca FROM events
      |  WHERE epoch_us(ts) < 1705363200000000 AND value IS NOT NULL
      |  GROUP BY 1, 2
      |), bb AS (
      |  SELECT event_type AS g, value AS v, COUNT(*) AS cb FROM events
      |  WHERE epoch_us(ts) >= 1705363200000000 AND value IS NOT NULL
      |  GROUP BY 1, 2
      |), m AS (
      |  SELECT g, v, SUM(ca) AS ca, SUM(cb) AS cb FROM (
      |    SELECT g, v, ca, 0 AS cb FROM a
      |    UNION ALL SELECT g, v, 0 AS ca, cb FROM bb)
      |  GROUP BY g, v
      |), c AS (
      |  SELECT g, ca, cb,
      |    COALESCE(SUM(cb) OVER (PARTITION BY g ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pb
      |  FROM m
      |), s AS (
      |  SELECT g, CAST(SUM(ca) AS BIGINT) AS na,
      |    CAST(SUM(cb) AS BIGINT) AS nb,
      |    CAST(SUM(CAST(ca AS HUGEINT) * (2 * pb + cb)) AS DOUBLE) AS u2,
      |    CAST(SUM(CAST(ca + cb AS HUGEINT) * (ca + cb) * (ca + cb)
      |      - (ca + cb)) AS DOUBLE) AS tie
      |  FROM c GROUP BY g
      |), f AS (
      |  SELECT g, na, nb, u2,
      |    CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
      |    CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) AS n,
      |    CASE WHEN CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) > 1.0
      |      THEN tie / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
      |        * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 1.0))
      |      ELSE 0.0 END AS tieterm
      |  FROM s
      |)
      |SELECT g, na AS n_ref, nb AS n_cur,
      |  CASE WHEN na > 0 AND nb > 0 THEN u2 END AS u_x2,
      |  CASE WHEN na > 0 AND nb > 0
      |    THEN ROUND(u2 / (nad * nbd) - 1.0, 6) END AS cliffs_delta6,
      |  CASE WHEN na > 0 AND nb > 0
      |      AND nad * nbd / 12.0 * ((n + 1.0) - tieterm) > 0
      |    THEN ROUND((u2 / 2.0 - nad * nbd / 2.0)
      |      / sqrt(nad * nbd / 12.0 * ((n + 1.0) - tieterm)), 6)
      |  END AS z6
      |FROM f ORDER BY g""".stripMargin

  /** Shared by q340 (batch per-group Cramér–von Mises) and q341 (the
    * streaming replay) — per-group pooled squared-gap integrals off
    * the group-keyed foldable counts. */
  private val groupCvmOracle: String =
    """WITH a AS (
      |  SELECT event_type AS g, value AS v, COUNT(*) AS ca FROM events
      |  WHERE epoch_us(ts) < 1705363200000000 AND value IS NOT NULL
      |  GROUP BY 1, 2
      |), bb AS (
      |  SELECT event_type AS g, value AS v, COUNT(*) AS cb FROM events
      |  WHERE epoch_us(ts) >= 1705363200000000 AND value IS NOT NULL
      |  GROUP BY 1, 2
      |), m AS (
      |  SELECT g, v, SUM(ca) AS ca, SUM(cb) AS cb FROM (
      |    SELECT g, v, ca, 0 AS cb FROM a
      |    UNION ALL SELECT g, v, 0 AS ca, cb FROM bb)
      |  GROUP BY g, v
      |), c AS (
      |  SELECT g, ca, cb,
      |    SUM(ca) OVER (PARTITION BY g ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
      |    SUM(cb) OVER (PARTITION BY g ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
      |    SUM(ca) OVER (PARTITION BY g) AS na,
      |    SUM(cb) OVER (PARTITION BY g) AS nb
      |  FROM m
      |), terms AS (
      |  SELECT g, na, nb,
      |    CASE WHEN na > 0 AND nb > 0 THEN
      |      CAST(ROUND(CAST(ca + cb AS DOUBLE) *
      |        ((CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE)
      |          - CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE))
      |         * (CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE)
      |          - CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE))), 12)
      |        AS DECIMAL(38,12)) END AS tt
      |  FROM c
      |)
      |SELECT g, CAST(MAX(na) AS BIGINT) AS n_ref,
      |  CAST(MAX(nb) AS BIGINT) AS n_cur,
      |  CASE WHEN MAX(na) > 0 AND MAX(nb) > 0
      |    THEN ROUND(CAST(MAX(na) AS DOUBLE) * CAST(MAX(nb) AS DOUBLE)
      |      / ((CAST(MAX(na) AS DOUBLE) + CAST(MAX(nb) AS DOUBLE))
      |        * (CAST(MAX(na) AS DOUBLE) + CAST(MAX(nb) AS DOUBLE)))
      |      * CAST(COALESCE(SUM(tt), 0) AS DOUBLE), 6)
      |  END AS cvm6
      |FROM terms GROUP BY g ORDER BY g""".stripMargin

  /** Shared by q343 (batch per-group Hellinger) and q344 (the
    * streaming replay) — per-group Bhattacharyya terms are SUMs over
    * the group-keyed foldable category counts. */
  private val groupHellingerOracle: String =
    """WITH rc AS (
      |  SELECT o_orderstatus AS g, o_orderpriority AS category,
      |    COUNT(*) AS ca
      |  FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
      |  GROUP BY 1, 2
      |), cc AS (
      |  SELECT o_orderstatus AS g, o_orderpriority AS category,
      |    COUNT(*) AS cb
      |  FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  GROUP BY 1, 2
      |), m AS (
      |  SELECT g, category, SUM(ca) AS ca, SUM(cb) AS cb FROM (
      |    SELECT g, category, ca, 0 AS cb FROM rc
      |    UNION ALL SELECT g, category, 0 AS ca, cb FROM cc)
      |  GROUP BY g, category
      |), c AS (
      |  SELECT g, ca, cb,
      |    SUM(ca) OVER (PARTITION BY g) AS na,
      |    SUM(cb) OVER (PARTITION BY g) AS nb,
      |    COUNT(*) OVER (PARTITION BY g) AS k
      |  FROM m
      |), terms AS (
      |  SELECT g, na, nb, k,
      |    CASE WHEN na > 0 AND nb > 0 THEN CAST(ROUND(sqrt(
      |        (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
      |        * (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))), 12)
      |      AS DECIMAL(38,12)) END AS tt
      |  FROM c
      |)
      |SELECT g, CAST(MAX(na) AS BIGINT) AS n_ref,
      |  CAST(MAX(nb) AS BIGINT) AS n_cur,
      |  CAST(MAX(k) AS BIGINT) AS n_categories,
      |  CASE WHEN MAX(na) > 0 AND MAX(nb) > 0
      |    THEN ROUND(CAST(COALESCE(SUM(tt), 0) AS DOUBLE), 6)
      |  END AS bc6,
      |  CASE WHEN MAX(na) > 0 AND MAX(nb) > 0
      |    THEN ROUND(sqrt(GREATEST(
      |      1.0 - CAST(COALESCE(SUM(tt), 0) AS DOUBLE), 0.0)), 6)
      |  END AS hellinger6
      |FROM terms GROUP BY g ORDER BY g""".stripMargin

  /** Shared by q347 (batch per-group quantile-shift) and q348 (the
    * streaming replay) — per-group discrete ranks off the group-keyed
    * SUM-foldable counts, both sides, joined per (group, p). */
  private val groupQuantileShiftOracle: String =
    """WITH a AS (
      |  SELECT event_type AS g, CAST(value AS DOUBLE) AS v,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events
      |  WHERE epoch_us(ts) < 1705363200000000 AND value IS NOT NULL
      |  GROUP BY 1, 2
      |), bb AS (
      |  SELECT event_type AS g, CAST(value AS DOUBLE) AS v,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events
      |  WHERE epoch_us(ts) >= 1705363200000000 AND value IS NOT NULL
      |  GROUP BY 1, 2
      |), ps AS (
      |  SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS p
      |), cuma AS (
      |  SELECT g, v,
      |    SUM(cnt) OVER (PARTITION BY g ORDER BY v) AS cum,
      |    SUM(cnt) OVER (PARTITION BY g) AS n
      |  FROM a
      |), qa AS (
      |  SELECT g, ps.p AS p, CAST(MAX(n) AS BIGINT) AS n_ref,
      |    MIN(v) AS q_ref
      |  FROM cuma CROSS JOIN ps
      |  WHERE cum >= GREATEST(CAST(CEIL(ps.p * n) AS BIGINT), 1)
      |  GROUP BY g, ps.p
      |), cumb AS (
      |  SELECT g, v,
      |    SUM(cnt) OVER (PARTITION BY g ORDER BY v) AS cum,
      |    SUM(cnt) OVER (PARTITION BY g) AS n
      |  FROM bb
      |), qb AS (
      |  SELECT g, ps.p AS p, CAST(MAX(n) AS BIGINT) AS n_cur,
      |    MIN(v) AS q_cur
      |  FROM cumb CROSS JOIN ps
      |  WHERE cum >= GREATEST(CAST(CEIL(ps.p * n) AS BIGINT), 1)
      |  GROUP BY g, ps.p
      |)
      |SELECT qa.g, qa.p, qa.n_ref, qb.n_cur, qa.q_ref, qb.q_cur,
      |  ROUND(qb.q_cur - qa.q_ref, 6) AS shift6
      |FROM qa JOIN qb
      |ON qa.g IS NOT DISTINCT FROM qb.g AND qa.p = qb.p
      |ORDER BY qa.g, qa.p""".stripMargin

  /** One GROUP BY g branch of q351's per-group pair-moment replay —
    * the q337 conditional moment sums (verbatim arithmetic) keyed by
    * the slice column. */
  private def groupCorrPairBranch(
      xName: String, yName: String, x: String, y: String): String = {
    def csum(e: String) =
      s"""CAST(SUM(CASE WHEN $x IS NOT NULL AND $y IS NOT NULL
         |      THEN CAST(ROUND($e, 12) AS DECIMAL(38,12)) END) AS DOUBLE)"""
        .stripMargin
    s"""SELECT g, '$xName' AS x_col, '$yName' AS y_col,
       |    CAST(COUNT(CASE WHEN $x IS NOT NULL AND $y IS NOT NULL
       |      THEN 1 END) AS BIGINT) AS n,
       |    ${csum(x)} AS sx,
       |    ${csum(y)} AS sy,
       |    ${csum(s"$x*$x")} AS sxx,
       |    ${csum(s"$y*$y")} AS syy,
       |    ${csum(s"$x*$y")} AS sxy
       |  FROM b GROUP BY g""".stripMargin
  }

  /** The survival subjects shared by q355/q356/q357 —
    * [[survivalSubjects]]'s derivation verbatim: per user, the
    * first-event micros, last-seen micros, the sorted purchase-micros
    * list (its 14th element IS the conversion instant), the first
    * event type, and the parity arm. */
  private val survivalSubjectsCte: String =
    """u AS (
      |  SELECT user_id, epoch_us(MIN(ts)) AS f, epoch_us(MAX(ts)) AS l,
      |    list_sort(list(epoch_us(ts)) FILTER (event_type = 'purchase'))
      |      AS ps,
      |    regexp_extract(MIN(lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
      |      ':' || event_type), ':(.*)', 1) AS ft
      |  FROM events GROUP BY user_id
      |), subj AS (
      |  SELECT ft,
      |    CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS par,
      |    (len(ps) >= 14) AS obs,
      |    CASE WHEN len(ps) >= 14
      |      THEN FLOOR(CAST(ps[14] - f AS DOUBLE) / 8.64e10)
      |      ELSE FLOOR(CAST(l - f AS DOUBLE) / 8.64e10) END AS t
      |  FROM u
      |)""".stripMargin

  /** Shared by q353/q354: the ordinal 1–5 panel
    * ([[ordinalRatings]]'s derivation verbatim) down to the pairable
    * numeric rating cells `pair(it, v, c, ni)` — items with one
    * rating excluded, [[graft.operators.Annotate
    * .krippendorffAlphaMetric]]'s rule. */
  private val ordinalPairCte: String = {
    val key = "CAST(g.r AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)"
    s"""rt AS (
       |  SELECT CAST(d.doc_id AS VARCHAR) AS it,
       |    GREATEST(1, LEAST(5, d.n_chars % 5 + 1 +
       |      CASE WHEN ${hash32Sql(s"'ord:' || $key")} % 100 < 15 THEN -1
       |           WHEN ${hash32Sql(s"'ord:' || $key")} % 100 >= 85 THEN 1
       |           ELSE 0 END)) AS score
       |  FROM documents d CROSS JOIN (SELECT unnest(range(5)) AS r) g
       |  WHERE ${hash32Sql(s"'ordp:' || $key")} % 100 < 70
       |), cells AS (
       |  SELECT it, CAST(score AS DOUBLE) AS v,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM rt GROUP BY it, score
       |), per0 AS (
       |  SELECT it, CAST(SUM(c) AS BIGINT) AS ni
       |  FROM cells GROUP BY it HAVING SUM(c) >= 2
       |), pair AS (
       |  SELECT cells.it, v, c, ni FROM cells JOIN per0 USING (it)
       |), tot AS (
       |  SELECT CAST(COUNT(DISTINCT it) AS BIGINT) AS n_items,
       |    CAST(SUM(c) AS BIGINT) AS n_tot,
       |    CAST(COUNT(DISTINCT v) AS BIGINT) AS n_labels,
       |    CAST(SUM(CAST(ROUND(CAST(c AS DOUBLE) * v, 12)
       |      AS DECIMAL(38,12))) AS DOUBLE) AS snv,
       |    CAST(SUM(CAST(ROUND(CAST(c AS DOUBLE) * v * v, 12)
       |      AS DECIMAL(38,12))) AS DOUBLE) AS snv2
       |  FROM pair
       |)""".stripMargin
  }

  /** Shared by q349 (URL-keyed dedup) and q350 (domain rollup): the
    * DuckDB replay of the deterministic URL synthesis AND the full
    * [[graft.functions.UrlFunctions.urlNormalize]] pipeline, ending
    * in a `dedup(url, first_doc_id)` CTE. The component regexes are
    * interpolated from the SAME constants the Spark expressions
    * compile (never a pasted copy), and every list/string primitive
    * (str_split, list_filter/sort, array_to_string, lpad) has
    * byte-identical semantics in both engines on this ASCII data. */
  private def urlDedupOracleCte: String = {
    val strip = graft.functions.UrlFunctions.DefaultTrackingParams
      .map(p => s"'$p'").mkString(", ")
    val urlRe = graft.functions.UrlFunctions.UrlRe
    val hostRe = graft.functions.UrlFunctions.HostRe
    val portRe = graft.functions.UrlFunctions.PortRe
    s"""WITH raw AS (
       |  SELECT doc_id,
       |    (CASE doc_id % 4 WHEN 0 THEN 'HTTP://' WHEN 1 THEN 'http://'
       |          WHEN 2 THEN 'HTTPS://' ELSE 'https://' END)
       |    || (CASE WHEN doc_id % 7 = 0 THEN 'user:Pw@' ELSE '' END)
       |    || (CASE WHEN doc_id % 2 = 0
       |          THEN upper('docs.' || source ||
       |            (CASE doc_id % 3 WHEN 0 THEN '.co.uk'
       |                  WHEN 1 THEN '.com' ELSE '.github.io' END))
       |          ELSE 'docs.' || source ||
       |            (CASE doc_id % 3 WHEN 0 THEN '.co.uk'
       |                  WHEN 1 THEN '.com' ELSE '.github.io' END) END)
       |    || (CASE doc_id % 5 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
       |             WHEN 2 THEN ':8080' ELSE '' END)
       |    || '/d/' || CAST(doc_id % 25 AS VARCHAR)
       |    || (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END)
       |    || '?page=' || CAST(doc_id % 4 AS VARCHAR)
       |    || (CASE WHEN doc_id % 2 = 0 THEN '&utm_source=news' ELSE '' END)
       |    || (CASE WHEN doc_id % 3 = 0 THEN '&B=2&a=1' ELSE '' END)
       |    || (CASE WHEN doc_id % 5 = 0 THEN '#Sec1' ELSE '' END) AS u
       |  FROM documents
       |), parts AS (
       |  SELECT doc_id,
       |    lower(regexp_extract(u, '$urlRe', 1)) AS sch,
       |    regexp_extract(u, '$urlRe', 2) AS auth,
       |    regexp_extract(u, '$urlRe', 3) AS p0,
       |    regexp_extract(u, '$urlRe', 4) AS q0
       |  FROM raw
       |), comp AS (
       |  SELECT doc_id, sch,
       |    lower(regexp_extract(auth, '$hostRe', 1)) AS host,
       |    CASE WHEN regexp_extract(auth, '$portRe', 1) <> ''
       |      AND length(regexp_replace(
       |        regexp_extract(auth, '$portRe', 1), '^0+', '')) <= 9
       |      THEN CAST(regexp_extract(auth, '$portRe', 1) AS BIGINT)
       |      END AS portn,
       |    CASE WHEN regexp_replace(p0, '/+$$', '') = '' THEN '/'
       |         ELSE regexp_replace(p0, '/+$$', '') END AS path,
       |    array_to_string(list_sort(list_filter(str_split(q0, '&'),
       |      x -> x <> '' AND NOT list_contains([$strip],
       |        lower(regexp_extract(x, '^([^=]*)', 1))))), '&') AS q
       |  FROM parts
       |), norm AS (
       |  SELECT doc_id, sch || '://' || host
       |    || (CASE WHEN portn IS NOT NULL
       |             AND NOT ((sch = 'http' AND portn = 80)
       |               OR (sch = 'https' AND portn = 443))
       |        THEN ':' || CAST(portn AS VARCHAR) ELSE '' END)
       |    || path || (CASE WHEN q <> '' THEN '?' || q ELSE '' END) AS url
       |  FROM comp
       |), dedup AS (
       |  SELECT url, MIN(doc_id) AS first_doc_id FROM norm GROUP BY url
       |)""".stripMargin
  }

  /** Shared by q355 (batch KM), q360 (incremental cell fold), and
    * q361 (the streaming monitor) — one maintained duration grid,
    * one ground truth. */
  private val kaplanMeierOracle: String =
    s"""WITH $survivalSubjectsCte, g AS (
        |  SELECT t,
        |    CAST(SUM(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM subj GROUP BY t
        |), tot AS (
        |  SELECT CAST(SUM(d + c) AS BIGINT) AS total FROM g
        |), pre AS (
        |  SELECT g.t, g.d, g.c, tot.total,
        |    CAST(COALESCE(SUM(d + c) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS p
        |  FROM g, tot
        |), term AS (
        |  SELECT t, total - p AS n, d, c,
        |    CASE WHEN d > 0 AND d < total - p
        |      THEN CAST(CAST(ROUND(ln(1.0 - CAST(d AS DOUBLE)
        |          / CAST(total - p AS DOUBLE)), 12) AS DECIMAL(28,12))
        |        * 1000000000000 AS BIGINT)
        |      ELSE 0 END AS lt,
        |    CASE WHEN d = total - p THEN 1 ELSE 0 END AS z
        |  FROM pre
        |), cum AS (
        |  SELECT t, n, d, c,
        |    SUM(lt) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lp,
        |    SUM(z) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zp
        |  FROM term
        |)
        |SELECT t, n AS n_risk, d AS n_events, c AS n_censored,
        |  CASE WHEN zp > 0 THEN 0.0
        |    ELSE ROUND(exp(CAST(lp AS DOUBLE) / 1e12), 6)
        |    END AS survival6
        |FROM cum ORDER BY t""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_sum_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_schema_introspect" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_l_discount,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_l_extendedprice,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_l_quantity,
        |  CAST(SUM(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_l_tax,
        |  11 AS n_fields
        |FROM lineitem
        |WHERE l_returnflag IN
        |  (SELECT DISTINCT l_returnflag FROM lineitem ORDER BY 1 LIMIT 2)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q03_catalog" ->
      """SELECT n_regionkey, count(*) AS n_nations,
        |  3 AS n_cols, TRUE AS view_exists, FALSE AS ghost_exists,
        |  TRUE AS file_exists, FALSE AS ghost_file_exists
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "q05_concat_union" ->
      """WITH u AS (
        |  SELECT 'a' AS src, l_returnflag, l_quantity AS qty,
        |         CAST(NULL AS DOUBLE) AS tax
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'b' AS src, l_returnflag,
        |         CAST(CAST(TRUNC(l_quantity) AS INTEGER) AS DOUBLE) AS qty,
        |         l_tax AS tax
        |  FROM lineitem
        |)
        |SELECT src, l_returnflag,
        |  CAST(SUM(CAST(qty AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_tax,
        |  COUNT(*) AS n_rows
        |FROM u
        |GROUP BY src, l_returnflag
        |ORDER BY src, l_returnflag""".stripMargin,
    "q04_window_sum" ->
      """WITH flags AS (
        |  SELECT DISTINCT l_returnflag,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
        |         OVER (PARTITION BY l_returnflag) AS DOUBLE) AS flag_qty
        |  FROM lineitem
        |)
        |SELECT l_returnflag, flag_qty,
        |  CAST(SUM(CAST(flag_qty AS DECIMAL(18,2))) OVER () AS DOUBLE) AS grand_qty
        |FROM flags
        |ORDER BY l_returnflag""".stripMargin,
    "q06_map_col" ->
      """SELECT n_nationkey, n_name,
        |  CASE n_regionkey WHEN 0 THEN 'zone_a' WHEN 1 THEN 'zone_b'
        |       WHEN 2 THEN 'zone_c' ELSE NULL END AS zone
        |FROM nation
        |ORDER BY n_nationkey""".stripMargin,
    "q07_rename" ->
      """SELECT p_partkey, p_brand, p_size AS size, p_retailprice AS price
        |FROM part
        |WHERE p_size > 25
        |ORDER BY p_partkey""".stripMargin,
    "q08_first_group" ->
      """SELECT o_orderstatus,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n_orders
        |FROM orders
        |WHERE o_orderstatus = (SELECT min(o_orderstatus) FROM orders)
        |GROUP BY o_orderstatus""".stripMargin,
    "q09_array_diff" ->
      """SELECT vec_id,
        |  CAST(len(embedding) - 1 AS INTEGER) AS n_diffs,
        |  ROUND(CAST(embedding[2] - embedding[1] AS DOUBLE), 4) AS d1
        |FROM embeddings
        |ORDER BY vec_id""".stripMargin,
    "q10_grouped_apply" ->
      """SELECT o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,
    "q11_pivot" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_linestatus = 'F'
        |       THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "F",
        |  CAST(SUM(CASE WHEN l_linestatus = 'O'
        |       THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "O"
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q12_within_year_ffill" ->
      """WITH base AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN event_type <> 'error' THEN value END AS v,
        |    year(ts - INTERVAL 1 MONTH) AS fy
        |  FROM events
        |), filled AS (
        |  SELECT user_id,
        |    last_value(v IGNORE NULLS) OVER (
        |      PARTITION BY user_id, fy
        |      ORDER BY date_trunc('microseconds', ts), event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
        |  FROM base
        |)
        |SELECT user_id,
        |  CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
        |  COUNT(v) AS n_filled
        |FROM filled
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "q13_dedup_exact" ->
      """WITH u AS (
        |  SELECT doc_id, lang,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |        '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS f
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, lang,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |        '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS f
        |  FROM documents
        |), keep AS (
        |  SELECT f, min(doc_id) AS doc_id FROM u GROUP BY f
        |), dedup AS (
        |  SELECT DISTINCT u.doc_id, u.lang
        |  FROM u JOIN keep ON u.f = keep.f AND u.doc_id = keep.doc_id
        |)
        |SELECT lang, count(*) AS n_docs FROM dedup
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q14_minhash_neardup" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |         ELSE list_distinct(list_transform(range(len(toks)-2), i ->
        |           toks[CAST(i+1 AS INT)] || '_' || toks[CAST(i+2 AS INT)]
        |             || '_' || toks[CAST(i+3 AS INT)])) END AS sh
        |  FROM tk
        |), ex AS (
        |  SELECT doc_id, len(sh) AS m, unnest(sh) AS g FROM s
        |), p AS (
        |  -- inverted-index candidates (exact for j >= 0.5 > 0);
        |  -- see componentsOracleCte
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(COUNT(*) AS DOUBLE)
        |      / NULLIF(CAST(a.m + b.m - COUNT(*) AS DOUBLE), 0.0) AS j
        |  FROM ex a JOIN ex b ON a.g = b.g AND b.doc_id > a.doc_id
        |  GROUP BY a.doc_id, b.doc_id, a.m, b.m
        |)
        |SELECT id_a, id_b, ROUND(j, 4) AS jaccard FROM p
        |WHERE j >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    "q15_simhash" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks FROM documents
        |), h AS (
        |  SELECT doc_id, list_transform(toks, tok ->
        |    CAST(list_sum(list_transform(range(8), i ->
        |      (strpos('0123456789abcdef', substr(md5(tok), CAST(i+1 AS INT), 1)) - 1)
        |        * 16**(7-i))) AS BIGINT)) AS hs
        |  FROM t
        |), c AS (
        |  SELECT doc_id, hs,
        |    list_transform(range(32), b ->
        |      list_sum(list_transform(hs, hv ->
        |        CASE WHEN (hv >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END))) AS cnts
        |  FROM h
        |)
        |SELECT doc_id,
        |  CAST(list_sum(list_transform(range(32), b ->
        |    CASE WHEN cnts[CAST(b AS INT)+1] > 0 THEN 2**CAST(b AS INT) ELSE 0 END))
        |    AS BIGINT) AS simhash,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
        |    (acc, x) -> (acc * 31 + x) % 2147483647) AS rolling_fp
        |FROM c ORDER BY doc_id""".stripMargin,
    "q16_text_stats" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    string_split_regex(trim(text), ' +') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, text, toks,
        |    len(list_filter(toks, x -> x IN ('the','a','of','and'))) AS s_en,
        |    len(list_filter(toks, x -> x IN ('le','la','et','les'))) AS s_fr,
        |    len(list_filter(toks, x -> x IN ('der','die','und','das'))) AS s_de,
        |    len(list_filter(toks, x -> x IN ('el','los','las','y'))) AS s_es
        |  FROM t
        |)
        |SELECT doc_id,
        |  CAST(len(toks) AS INTEGER) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INTEGER) AS n_bpe_tokens,
        |  CASE
        |    WHEN s_en = greatest(s_en, s_fr, s_de, s_es) AND s_en > 0 THEN 'en'
        |    WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) AND s_fr > 0 THEN 'fr'
        |    WHEN s_de = greatest(s_en, s_fr, s_de, s_es) AND s_de > 0 THEN 'de'
        |    WHEN s_es = greatest(s_en, s_fr, s_de, s_es) AND s_es > 0 THEN 'es'
        |    ELSE 'und' END AS lang_guess,
        |  CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |    / CAST(len(toks) AS DOUBLE) AS mean_token_len,
        |  CAST(length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS DOUBLE)
        |    / CAST(length(text) AS DOUBLE) AS alnum_ratio,
        |  CAST(s_en AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stopword_ratio
        |FROM s ORDER BY doc_id""".stripMargin,
    "q17_similarity_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.vec_id,
        |    list_sum(list_transform(list_zip(e.embedding, q.qv),
        |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(q.qv,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id <> 0
        |)
        |SELECT vec_id, ROUND(c, 4) AS cosine FROM scored
        |ORDER BY c DESC, vec_id LIMIT 10""".stripMargin,
    "q18_ann_topk" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000*j AS vec_id,
        |    list_transform(list_zip(embedding, range(1, len(embedding)+1)),
        |      z -> CASE WHEN z[2] = j
        |           THEN CAST(z[1] * CAST(2**j AS REAL) AS REAL) ELSE z[1] END)
        |      AS embedding
        |  FROM embeddings CROSS JOIN (SELECT unnest([1,2,3]) AS j)
        |), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.vec_id,
        |    list_sum(list_transform(list_zip(e.embedding, q.qv),
        |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(q.qv,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
        |  FROM corpus e CROSS JOIN q
        |  WHERE e.vec_id <> 0
        |)
        |SELECT vec_id, ROUND(c, 4) AS cosine FROM scored
        |ORDER BY c DESC, vec_id LIMIT 3""".stripMargin,
    "q19_embedding_neardup" ->
      """WITH pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(b.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
        |  FROM embeddings a JOIN embeddings b
        |    ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 3
        |)
        |SELECT id_a, id_b, ROUND(c, 4) AS cosine FROM pairs
        |WHERE c >= 0.15 ORDER BY id_a, id_b""".stripMargin,
    "q20_multimodal" ->
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
        |  CAST(octet_length(CAST(text AS BLOB)) % 640 + 1 AS INTEGER) AS width,
        |  CAST(octet_length(CAST(text AS BLOB)) % 480 + 1 AS INTEGER) AS height,
        |  md5(text) AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q21_asof_join" ->
      """WITH p AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts, event_id
        |  FROM events WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts, event_id
        |  FROM events WHERE event_type = 'click'
        |), j AS (
        |  SELECT p.user_id, p.ts AS pts, c.ts AS cts
        |  FROM p ASOF LEFT JOIN c
        |    ON p.user_id = c.user_id AND c.ts <= p.ts
        |)
        |SELECT user_id,
        |  count(*) AS n_purchases,
        |  count(cts) AS n_matched,
        |  CAST(sum(epoch_us(pts) - epoch_us(cts)) AS BIGINT) AS sum_delta_us
        |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q22_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts, event_id
        |  FROM events
        |), g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g
        |), per AS (
        |  SELECT user_id, session_id, count(*) AS n FROM s GROUP BY 1, 2
        |)
        |SELECT user_id,
        |  count(*) AS n_sessions,
        |  CAST(max(n) AS BIGINT) AS max_session_events,
        |  CAST(sum(n) AS BIGINT) AS n_events
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q23_within_year_impute" ->
      """WITH base AS (
        |  SELECT user_id,
        |    CASE WHEN event_type <> 'error'
        |         THEN CAST(value AS DECIMAL(18,2)) END AS v,
        |    year(ts - INTERVAL 1 MONTH) AS fy
        |  FROM events
        |), c AS (
        |  SELECT user_id, fy, SUM(CAST(v * 100 AS BIGINT)) AS s,
        |    NULLIF(COUNT(v), 0) AS n
        |  FROM base GROUP BY user_id, fy
        |), m AS (
        |  SELECT user_id, fy,
        |    CAST(sign(s) * ((2 * abs(s) + n) // (2 * n)) AS DECIMAL(18,0))
        |      * CAST(0.01 AS DECIMAL(3,2)) AS mean_v
        |  FROM c
        |), imp AS (
        |  SELECT b.user_id, COALESCE(b.v, CAST(m.mean_v AS DECIMAL(18,2))) AS vi
        |  FROM base b JOIN m ON b.user_id = m.user_id AND b.fy = m.fy
        |)
        |SELECT user_id,
        |  CAST(SUM(CAST(vi AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
        |  COUNT(vi) AS n_vals
        |FROM imp GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q24_lsh_embedding_neardup" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000*j AS vec_id,
        |    list_transform(list_zip(embedding, range(1, len(embedding)+1)),
        |      z -> CASE WHEN z[2] = j
        |           THEN CAST(z[1] * CAST(2**j AS REAL) AS REAL) ELSE z[1] END)
        |      AS embedding
        |  FROM embeddings CROSS JOIN (SELECT unnest([1,2]) AS j)
        |), n AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM corpus
        |), p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
        |      / (a.nrm * b.nrm) AS c
        |  FROM n a JOIN n b ON b.vec_id > a.vec_id
        |)
        |SELECT id_a, id_b, ROUND(c, 4) AS cosine FROM p
        |WHERE c >= 0.9 ORDER BY id_a, id_b""".stripMargin,
    "q25_ivf_topk" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000*j AS vec_id,
        |    list_transform(list_zip(embedding, range(1, len(embedding)+1)),
        |      z -> CASE WHEN z[2] = j
        |           THEN CAST(z[1] * CAST(2**j AS REAL) AS REAL) ELSE z[1] END)
        |      AS embedding
        |  FROM embeddings CROSS JOIN (SELECT unnest([1,2,3]) AS j)
        |), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.vec_id,
        |    list_sum(list_transform(list_zip(e.embedding, q.qv),
        |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(q.qv,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
        |  FROM corpus e CROSS JOIN q
        |  WHERE e.vec_id <> 0
        |)
        |SELECT vec_id, ROUND(c, 4) AS cosine FROM scored
        |ORDER BY c DESC, vec_id LIMIT 3""".stripMargin,
    "q26_star_join" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q27_token_freq" ->
      """SELECT token, COUNT(*) AS freq
        |FROM (
        |  SELECT unnest(string_split_regex(trim(text), ' +')) AS token
        |  FROM documents
        |)
        |GROUP BY token
        |ORDER BY freq DESC, token
        |LIMIT 20""".stripMargin,
    "q28_simhash_neardup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks FROM documents
        |), h AS (
        |  SELECT doc_id, list_transform(toks, tok ->
        |    CAST(list_sum(list_transform(range(8), i ->
        |      (strpos('0123456789abcdef', substr(md5(tok), CAST(i+1 AS INT), 1)) - 1)
        |        * 16**(7-i))) AS BIGINT)) AS hs
        |  FROM t
        |), c AS (
        |  SELECT doc_id, hs,
        |    list_transform(range(32), b ->
        |      list_sum(list_transform(hs, hv ->
        |        CASE WHEN (hv >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END))) AS cnts
        |  FROM h
        |), s AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(range(32), b ->
        |      CASE WHEN cnts[CAST(b AS INT)+1] > 0 THEN 2**CAST(b AS INT) ELSE 0 END))
        |      AS BIGINT) AS sim
        |  FROM c
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
        |FROM s a JOIN s b ON b.doc_id > a.doc_id
        |WHERE bit_count(xor(a.sim, b.sim)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "q29_json_extract" ->
      """SELECT event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q30_tfidf" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, token, COUNT(*) AS tf FROM tk GROUP BY doc_id, token
        |), dfq AS (
        |  SELECT token, COUNT(DISTINCT doc_id) AS doc_freq FROM tk GROUP BY token
        |)
        |SELECT tf.doc_id, tf.token, tf.tf, dfq.doc_freq
        |FROM tf JOIN dfq USING (token)
        |ORDER BY tf.tf DESC, tf.doc_id, tf.token
        |LIMIT 50""".stripMargin,
    "q31_grouped_topk" ->
      """WITH t AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split_regex(trim(text), ' +')) AS INTEGER) AS n_tokens
        |  FROM documents
        |), r AS (
        |  SELECT lang, doc_id, n_tokens,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_tokens DESC, doc_id) AS rn
        |  FROM t
        |)
        |SELECT lang, doc_id, n_tokens FROM r WHERE rn <= 3
        |ORDER BY lang, n_tokens DESC, doc_id""".stripMargin,
    "q32_hash_sample" ->
      """WITH h AS (
        |  SELECT lang, doc_id,
        |    CAST(list_sum(list_transform(range(8), i ->
        |      (strpos('0123456789abcdef',
        |         substr(md5(CAST(doc_id AS VARCHAR)), CAST(i+1 AS INT), 1)) - 1)
        |        * 16**(7-i))) AS BIGINT) AS hv
        |  FROM documents
        |)
        |SELECT lang, COUNT(*) AS n_docs,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM h WHERE hv % 8 = 0
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q33_quantiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q34_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows,
        |  CAST(grouping(l_returnflag) AS TINYINT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS TINYINT) AS g_status
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin,
    "q35_range_join" ->
      """WITH p AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts, event_id
        |  FROM events WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts
        |  FROM events WHERE event_type = 'click'
        |), j AS (
        |  SELECT p.user_id, p.event_id
        |  FROM p JOIN c ON p.user_id = c.user_id
        |   AND abs(epoch_us(p.ts) - epoch_us(c.ts)) <= 1800000000
        |)
        |SELECT user_id, COUNT(*) AS n_pairs,
        |  COUNT(DISTINCT event_id) AS n_purchases_matched
        |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q36_row_ids" ->
      """WITH ids AS (
        |  SELECT lang,
        |    row_number() OVER (ORDER BY doc_id) - 1 AS row_id
        |  FROM documents
        |)
        |SELECT lang, COUNT(*) AS n,
        |  CAST(SUM(row_id) AS BIGINT) AS sum_row_id,
        |  MIN(row_id) AS min_row_id
        |FROM ids GROUP BY lang ORDER BY lang""".stripMargin,
    "q37_supplier_region" ->
      """SELECT r_name,
        |  COUNT(*) AS n_suppliers,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name
        |ORDER BY r_name""".stripMargin,
    "q38_chunk_tokens" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(string_split_regex(trim(text), ' +')) AS n
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n,
        |    greatest(CAST(ceil((n - 64) / 48.0) AS INT) + 1, 1) AS n_chunks
        |  FROM t
        |)
        |, e AS (
        |  SELECT doc_id, n, unnest(range(n_chunks)) AS j FROM c
        |)
        |SELECT doc_id,
        |  CAST(j AS INT) AS chunk_id,
        |  CAST(least(64, n - j*48) AS INT) AS n_chunk_tokens
        |FROM e
        |ORDER BY doc_id, chunk_id""".stripMargin,
    // 64-bit portable token hash: md5's first 16 hex chars as a SIGNED
    // two's-complement BIGINT, built from 32-bit halves with the high
    // half sign-adjusted before the shift-combine (the direct 16-digit
    // parse would overflow BIGINT). Signature packing mirrors it: two
    // 32-counter halves, same signed combine. Identical arithmetic to
    // TextFunctions.portableTokenHash64 / SimHashFromHashes(64).
    "q39_simhash64_neardup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks FROM documents
        |), h AS (
        |  SELECT doc_id, list_transform(toks, tok ->
        |    CASE WHEN CAST(list_sum(list_transform(range(8), i ->
        |           (strpos('0123456789abcdef', substr(md5(tok), CAST(i+1 AS INT), 1)) - 1)
        |             * 16**(7-i))) AS BIGINT) >= 2147483648
        |         THEN (CAST(list_sum(list_transform(range(8), i ->
        |           (strpos('0123456789abcdef', substr(md5(tok), CAST(i+1 AS INT), 1)) - 1)
        |             * 16**(7-i))) AS BIGINT) - 4294967296)*4294967296
        |           + CAST(list_sum(list_transform(range(8), i ->
        |           (strpos('0123456789abcdef', substr(md5(tok), CAST(i+9 AS INT), 1)) - 1)
        |             * 16**(7-i))) AS BIGINT)
        |         ELSE CAST(list_sum(list_transform(range(8), i ->
        |           (strpos('0123456789abcdef', substr(md5(tok), CAST(i+1 AS INT), 1)) - 1)
        |             * 16**(7-i))) AS BIGINT)*4294967296
        |           + CAST(list_sum(list_transform(range(8), i ->
        |           (strpos('0123456789abcdef', substr(md5(tok), CAST(i+9 AS INT), 1)) - 1)
        |             * 16**(7-i))) AS BIGINT)
        |    END) AS hs
        |  FROM t
        |), c AS (
        |  SELECT doc_id,
        |    list_transform(range(64), b ->
        |      list_sum(list_transform(hs, hv ->
        |        CASE WHEN (hv >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END))) AS cnts
        |  FROM h
        |), p AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(range(32), b ->
        |      CASE WHEN cnts[CAST(b AS INT)+33] > 0 THEN 2**CAST(b AS INT) ELSE 0 END))
        |      AS BIGINT) AS hi32,
        |    CAST(list_sum(list_transform(range(32), b ->
        |      CASE WHEN cnts[CAST(b AS INT)+1] > 0 THEN 2**CAST(b AS INT) ELSE 0 END))
        |      AS BIGINT) AS lo32
        |  FROM c
        |), s AS (
        |  SELECT doc_id,
        |    CASE WHEN hi32 >= 2147483648 THEN (hi32 - 4294967296)*4294967296 + lo32
        |         ELSE hi32*4294967296 + lo32 END AS sim
        |  FROM p
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
        |FROM s a JOIN s b ON b.doc_id > a.doc_id
        |WHERE bit_count(xor(a.sim, b.sim)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "q40_salted_join" ->
      """WITH fs AS (
        |  SELECT l_returnflag, COUNT(*) AS flag_rows,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS flag_price
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l.l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  MAX(fs.flag_rows) AS flag_rows,
        |  MAX(fs.flag_price) AS flag_price
        |FROM lineitem l JOIN fs USING (l_returnflag)
        |GROUP BY l.l_returnflag
        |ORDER BY l.l_returnflag""".stripMargin,
    // q41's oracle is q22's batch sessionization SQL VERBATIM: the
    // streamed operator must reproduce the batch answer exactly.
    "q41_stream_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts, event_id
        |  FROM events
        |), g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g
        |), per AS (
        |  SELECT user_id, session_id, count(*) AS n FROM s GROUP BY 1, 2
        |)
        |SELECT user_id,
        |  count(*) AS n_sessions,
        |  CAST(max(n) AS BIGINT) AS max_session_events,
        |  CAST(sum(n) AS BIGINT) AS n_events
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q42_stream_windowed_counts" ->
      """SELECT (epoch_us(date_trunc('microseconds', ts)) // 300000000)
        |         * 300000000 AS window_start_us,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "q43_stream_dedup" ->
      """SELECT event_type, COUNT(*) AS n_users,
        |  CAST(SUM(user_id) AS BIGINT) AS sum_uid
        |FROM (SELECT DISTINCT user_id, event_type FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q44_ngram_jaccard_window" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |         ELSE list_distinct(list_transform(range(len(toks)-2), i ->
        |           toks[CAST(i+1 AS INT)] || '_' || toks[CAST(i+2 AS INT)]
        |             || '_' || toks[CAST(i+3 AS INT)])) END AS sh
        |  FROM tk
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / NULLIF(CAST(len(list_distinct(list_concat(a.sh, b.sh)))
        |               AS DOUBLE), 0.0) AS j
        |  FROM s a JOIN s b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25
        |)
        |SELECT id_a, id_b, ROUND(j, 4) AS jaccard FROM p
        |WHERE j >= 0.01 ORDER BY id_a, id_b""".stripMargin,
    "q45_salted_agg" ->
      """SELECT l_returnflag,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q46_dedup_clusters" -> dedupClustersOracle,
    "q194_incremental_components" -> dedupClustersOracle,
    "q206_stream_components" -> dedupClustersOracle,
    "q207_stratified_sample" ->
      """WITH h AS (
        |  SELECT lang, doc_id,
        |    CAST(list_sum(list_transform(range(8), i ->
        |      (strpos('0123456789abcdef',
        |         substr(md5('eval1:' || CAST(doc_id AS VARCHAR)),
        |           CAST(i+1 AS INT), 1)) - 1)
        |        * 16**(7-i))) AS BIGINT) AS hv
        |  FROM documents
        |), r AS (
        |  SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rk
        |  FROM h
        |)
        |SELECT lang, doc_id, CAST(rk AS BIGINT) AS sample_rank
        |FROM r WHERE rk <= 10 ORDER BY lang, doc_id""".stripMargin,
    "q208_pii_scan" ->
      """WITH seeded AS (
        |  SELECT doc_id, text || CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN ' reach user0@example.com or admin@data.org'
        |    WHEN 1 THEN ' see https://example.com/a_b and http://x.io/p'
        |    WHEN 2 THEN ' host 10.0.0.1 peer 192.168.1.255'
        |    ELSE ' call 555-123-4567' END AS t
        |  FROM documents
        |), c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |      AS email_hits,
        |    CAST(len(regexp_extract_all(t,
        |      'https?://[A-Za-z0-9./_%-]+')) AS BIGINT) AS url_hits,
        |    CAST(len(regexp_extract_all(t,
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT)
        |      AS ipv4_hits,
        |    CAST(len(regexp_extract_all(t,
        |      '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS phone_hits
        |  FROM seeded
        |)
        |SELECT doc_id, email_hits, url_hits, ipv4_hits, phone_hits,
        |  email_hits + url_hits + ipv4_hits + phone_hits AS pii_total,
        |  (email_hits + url_hits + ipv4_hits + phone_hits) > 0 AS has_pii
        |FROM c ORDER BY doc_id""".stripMargin,
    "q209_seqlen_frontier" ->
      """WITH t AS (
        |  SELECT CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT)
        |    AS n
        |  FROM documents WHERE text IS NOT NULL
        |), b AS (
        |  SELECT CAST(unnest([64, 128, 256, 512]) AS BIGINT) AS budget
        |)
        |SELECT budget, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN n > budget THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_truncated,
        |  CAST(SUM(n) AS BIGINT) AS tokens_total,
        |  CAST(SUM(LEAST(n, budget)) AS BIGINT) AS tokens_kept,
        |  CAST(SUM(GREATEST(n - budget, 0)) AS BIGINT) AS trunc_loss_tokens,
        |  CAST(SUM(budget - LEAST(n, budget)) AS BIGINT) AS pad_waste_tokens,
        |  CAST((SUM(LEAST(n, budget)) + budget - 1) // budget AS BIGINT)
        |    AS packed_seqs
        |FROM t CROSS JOIN b GROUP BY budget ORDER BY budget""".stripMargin,
    "q210_kcore" -> kCoreOracle,
    // the streaming replay is held to the batch operator's verbatim
    // ground truth (cut detection is per-media-row independent)
    "q211_stream_shot_boundaries" -> shotBoundariesOracle,
    "q212_source_interleave" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
        |      AS DOUBLE)
        |      / CAST(CAST(substr(source, 4) AS INT) + 1 AS DOUBLE) AS k
        |  FROM documents
        |)
        |SELECT doc_id, source,
        |  CAST(ROW_NUMBER() OVER (ORDER BY k, source, doc_id) - 1 AS BIGINT)
        |    AS train_pos
        |FROM r ORDER BY doc_id""".stripMargin,
    "q213_table_fingerprint" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
        |  FROM orders
        |), v AS (
        |  SELECT 'original' AS variant, o_orderkey, o_custkey,
        |    o_orderstatus, o_orderpriority FROM src
        |  UNION ALL
        |  SELECT 'perturbed', o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey = 7 THEN 'X' ELSE o_orderstatus END,
        |    o_orderpriority FROM src
        |), canon AS (
        |  SELECT variant,
        |    md5(COALESCE(CAST(o_orderkey AS VARCHAR), chr(2)) || chr(1) ||
        |        COALESCE(CAST(o_custkey AS VARCHAR), chr(2)) || chr(1) ||
        |        COALESCE(o_orderstatus, chr(2)) || chr(1) ||
        |        COALESCE(o_orderpriority, chr(2))) AS h
        |  FROM v
        |), halves AS (
        |  SELECT variant,
        |    CAST(list_sum(list_transform(range(8), i ->
        |      (strpos('0123456789abcdef',
        |         substr(h, CAST(i+1 AS INT), 1)) - 1) * 16**(7-i)))
        |      AS BIGINT) AS hi,
        |    CAST(list_sum(list_transform(range(8), i ->
        |      (strpos('0123456789abcdef',
        |         substr(h, CAST(i+9 AS INT), 1)) - 1) * 16**(7-i)))
        |      AS BIGINT) AS lo
        |  FROM canon
        |), sig AS (
        |  SELECT variant,
        |    CASE WHEN hi >= 2147483648
        |         THEN (hi - 4294967296)*4294967296 + lo
        |         ELSE hi*4294967296 + lo END AS s
        |  FROM halves
        |)
        |SELECT variant, COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(s AS DECIMAL(38,0))) AS DECIMAL(38,0))
        |    AS VARCHAR) AS fingerprint
        |FROM sig GROUP BY variant ORDER BY variant""".stripMargin,
    // the streaming monitor is held to the batch scanner's aggregated
    // ground truth (every statistic is a SUM — split-invariant)
    "q214_stream_pii_monitor" ->
      """WITH seeded AS (
        |  SELECT doc_id, text || CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN ' reach user0@example.com or admin@data.org'
        |    WHEN 1 THEN ' see https://example.com/a_b and http://x.io/p'
        |    WHEN 2 THEN ' host 10.0.0.1 peer 192.168.1.255'
        |    ELSE ' call 555-123-4567' END AS t
        |  FROM documents
        |), c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |      AS email_hits,
        |    CAST(len(regexp_extract_all(t,
        |      'https?://[A-Za-z0-9./_%-]+')) AS BIGINT) AS url_hits,
        |    CAST(len(regexp_extract_all(t,
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT)
        |      AS ipv4_hits,
        |    CAST(len(regexp_extract_all(t,
        |      '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS phone_hits
        |  FROM seeded
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(email_hits) AS BIGINT) AS email_hits,
        |  CAST(SUM(url_hits) AS BIGINT) AS url_hits,
        |  CAST(SUM(ipv4_hits) AS BIGINT) AS ipv4_hits,
        |  CAST(SUM(phone_hits) AS BIGINT) AS phone_hits,
        |  CAST(SUM(email_hits + url_hits + ipv4_hits + phone_hits)
        |    AS BIGINT) AS pii_total,
        |  CAST(SUM(CASE WHEN email_hits + url_hits + ipv4_hits
        |    + phone_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
        |FROM c""".stripMargin,
    // the streaming monitor is held to the batch fingerprint of the
    // whole feed (per-batch hash sums fold by SUM — split-invariant)
    "q219_stream_fingerprint" ->
      """WITH canon AS (
        |  SELECT
        |    md5(COALESCE(CAST(o_orderkey AS VARCHAR), chr(2)) || chr(1) ||
        |        COALESCE(CAST(o_custkey AS VARCHAR), chr(2)) || chr(1) ||
        |        COALESCE(o_orderstatus, chr(2)) || chr(1) ||
        |        COALESCE(o_orderpriority, chr(2))) AS h
        |  FROM orders
        |), halves AS (
        |  SELECT
        |    CAST(list_sum(list_transform(range(8), i ->
        |      (strpos('0123456789abcdef',
        |         substr(h, CAST(i+1 AS INT), 1)) - 1) * 16**(7-i)))
        |      AS BIGINT) AS hi,
        |    CAST(list_sum(list_transform(range(8), i ->
        |      (strpos('0123456789abcdef',
        |         substr(h, CAST(i+9 AS INT), 1)) - 1) * 16**(7-i)))
        |      AS BIGINT) AS lo
        |  FROM canon
        |), sig AS (
        |  SELECT CASE WHEN hi >= 2147483648
        |         THEN (hi - 4294967296)*4294967296 + lo
        |         ELSE hi*4294967296 + lo END AS s
        |  FROM halves
        |)
        |SELECT COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(s AS DECIMAL(38,0))) AS DECIMAL(38,0))
        |    AS VARCHAR) AS fingerprint
        |FROM sig""".stripMargin,
    "q218_bh_fdr" ->
      """WITH hyp AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 25 = 0 THEN u / 1000.0 ELSE u END AS p
        |  FROM (
        |    SELECT doc_id,
        |      CAST(list_sum(list_transform(range(8), i ->
        |        (strpos('0123456789abcdef',
        |           substr(md5('bh:' || CAST(doc_id AS VARCHAR)),
        |             CAST(i+1 AS INT), 1)) - 1)
        |          * 16**(7-i))) AS BIGINT) / 4294967296.0 AS u
        |    FROM documents)
        |), mm AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM hyp
        |), r AS (
        |  SELECT doc_id, p,
        |    CAST(ROW_NUMBER() OVER (ORDER BY p, doc_id) AS BIGINT)
        |      AS p_rank
        |  FROM hyp
        |), f AS (
        |  SELECT doc_id, p, p_rank,
        |    p <= (0.1 * CAST(p_rank AS DOUBLE)) / (SELECT m FROM mm) AS fl
        |  FROM r
        |), c AS (
        |  SELECT COALESCE(MAX(CASE WHEN fl THEN p_rank END), 0) AS cut
        |  FROM f
        |)
        |SELECT doc_id, p, p_rank, p_rank <= (SELECT cut FROM c) AS rejected
        |FROM f ORDER BY p_rank""".stripMargin,
    "q217_bootstrap_ci" -> bootstrapCIOracle,
    // the streamed monitor is held to the batch CI's verbatim ground
    // truth (bootstrap partials merge by exact decimal SUM)
    "q225_stream_bootstrap_ci" -> bootstrapCIOracle,
    "q250_incremental_bootstrap_ci" -> bootstrapCIOracle,
    // the grouped incremental fold and streamed monitor are held to
    // the batch grouped CI's verbatim ground truth (per-(group,
    // replicate) partials merge by exact decimal SUM)
    "q220_bootstrap_ci_by_group" -> groupBootstrapOracle,
    "q251_incremental_group_ci" -> groupBootstrapOracle,
    "q252_stream_group_ci" -> groupBootstrapOracle,
    "q226_categorical_association" -> associationOracle,
    // the streamed monitor and the incremental fold are held to the
    // batch audit's verbatim ground truth (joint counts fold by SUM)
    "q232_stream_association" -> associationOracle,
    "q242_incremental_association" -> associationOracle,
    "q243_kendall_tau" ->
      """WITH d AS (
        |  SELECT CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT)
        |    AS a, CAST(n_chars AS BIGINT) AS b
        |  FROM documents WHERE text IS NOT NULL
        |), j AS (
        |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY a, b
        |), cd AS (
        |  SELECT
        |    COALESCE(SUM(CASE WHEN j2.b > j1.b
        |      THEN CAST(j1.n AS DECIMAL(38,0)) * j2.n ELSE 0 END), 0) AS c,
        |    COALESCE(SUM(CASE WHEN j2.b < j1.b
        |      THEN CAST(j1.n AS DECIMAL(38,0)) * j2.n ELSE 0 END), 0) AS dd
        |  FROM j j1 JOIN j j2 ON j1.a < j2.a
        |), m AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS n FROM j
        |), ta AS (
        |  SELECT SUM(CAST(na AS DECIMAL(38,0)) * (na - 1)) AS ta2
        |  FROM (SELECT CAST(SUM(n) AS BIGINT) AS na FROM j GROUP BY a)
        |), tb AS (
        |  SELECT SUM(CAST(nb AS DECIMAL(38,0)) * (nb - 1)) AS tb2
        |  FROM (SELECT CAST(SUM(n) AS BIGINT) AS nb FROM j GROUP BY b)
        |)
        |SELECT m.n AS n,
        |  CAST(cd.c AS BIGINT) AS n_concordant,
        |  CAST(cd.dd AS BIGINT) AS n_discordant,
        |  CASE WHEN CAST(m.n AS DECIMAL(38,0)) * (m.n - 1) = ta.ta2
        |         OR CAST(m.n AS DECIMAL(38,0)) * (m.n - 1) = tb.tb2
        |    THEN NULL
        |    ELSE ROUND(CAST(2 * (cd.c - cd.dd) AS DOUBLE)
        |      / SQRT(CAST(CAST(m.n AS DECIMAL(38,0)) * (m.n - 1) - ta.ta2
        |               AS DOUBLE)
        |           * CAST(CAST(m.n AS DECIMAL(38,0)) * (m.n - 1) - tb.tb2
        |               AS DOUBLE)), 6)
        |    END AS tau_b6
        |FROM m CROSS JOIN cd CROSS JOIN ta CROSS JOIN tb""".stripMargin,
    "q227_token_mass_quantiles" ->
      """WITH d AS (
        |  SELECT CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT)
        |    AS tok
        |  FROM documents WHERE text IS NOT NULL
        |), c AS (
        |  SELECT CAST(tok AS DOUBLE) AS v, CAST(SUM(tok) AS BIGINT) AS cnt
        |  FROM d WHERE tok <> 0 GROUP BY tok
        |), cum AS (
        |  SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum FROM c
        |), n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c
        |), ps AS (
        |  SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS p
        |)
        |SELECT ps.p AS p, n.n AS n, MIN(cum.v) AS q
        |FROM ps CROSS JOIN n CROSS JOIN cum
        |WHERE cum.cum >= GREATEST(CAST(CEIL(ps.p * n.n) AS BIGINT), 1)
        |GROUP BY ps.p, n.n ORDER BY p""".stripMargin,
    "q228_quantiles_by_group" -> groupQuantilesOracle,
    // the incremental fold and the streamed monitor are held to the
    // batch recompute's verbatim ground truth ((group, value) cells
    // fold by SUM — the q222/q223 argument, group-keyed)
    "q244_incremental_group_quantiles" -> groupQuantilesOracle,
    "q245_stream_group_quantiles" -> groupQuantilesOracle,
    "q229_fellegi_sunter" ->
      """WITH l AS (
        |  SELECT c_custkey AS cid, c_mktsegment, c_nationkey, c_name
        |  FROM customer
        |), r AS (
        |  SELECT c_custkey + 5000000 AS cid,
        |    CASE WHEN c_custkey % 5 = 0 THEN 'XX' ELSE c_mktsegment END
        |      AS c_mktsegment,
        |    c_nationkey, c_name
        |  FROM customer
        |), cand AS (
        |  SELECT l.cid AS id_a, r.cid AS id_b,
        |    l.c_mktsegment AS sa, r.c_mktsegment AS sb,
        |    CAST(l.c_nationkey AS VARCHAR) AS na,
        |    CAST(r.c_nationkey AS VARCHAR) AS nb,
        |    l.c_name AS pa, r.c_name AS pb
        |  FROM l JOIN r ON l.cid % 200 = (r.cid - 5000000) % 200
        |), scored AS (
        |  -- NULL on either side = no evidence (0 weight), matching the
        |  -- operator contract — the fixture is non-null by construction,
        |  -- but the oracle must not diverge on the NULL path
        |  SELECT id_a, id_b,
        |    CAST((CASE WHEN sa IS NULL OR sb IS NULL THEN 0
        |            WHEN sa = sb THEN 1 ELSE 0 END)
        |       + (CASE WHEN na IS NULL OR nb IS NULL THEN 0
        |            WHEN na = nb THEN 1 ELSE 0 END)
        |       + (CASE WHEN pa IS NULL OR pb IS NULL THEN 0
        |            WHEN pa = pb THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
        |    ROUND((CASE WHEN sa IS NULL OR sb IS NULL THEN 0
        |             WHEN sa = sb THEN ln(0.9 / 0.2)
        |             ELSE ln((1 - 0.9) / (1 - 0.2)) END)
        |        + (CASE WHEN na IS NULL OR nb IS NULL THEN 0
        |             WHEN na = nb THEN ln(0.95 / 0.04)
        |             ELSE ln((1 - 0.95) / (1 - 0.04)) END)
        |        + (CASE WHEN pa IS NULL OR pb IS NULL THEN 0
        |             WHEN pa = pb THEN ln(0.99 / 0.001)
        |             ELSE ln((1 - 0.99) / (1 - 0.001)) END), 6) AS score6
        |  FROM cand
        |)
        |SELECT id_a, id_b, n_agree, score6, score6 >= 5.0 AS is_match
        |FROM scored ORDER BY id_a, id_b""".stripMargin,
    "q233_entity_resolution" -> entityResolutionOracle,
    // the incremental fold is held to the batch clustering's verbatim
    // ground truth (min-id labels merge exactly — the q194 argument)
    "q235_incremental_entities" -> entityResolutionOracle,
    "q231_blocking_report" ->
      """WITH cand AS (
        |  SELECT DISTINCT l.c_custkey AS id_a, r.c_custkey + 5000000 AS id_b
        |  FROM customer l JOIN customer r
        |    ON l.c_custkey % 200 = r.c_custkey % 200
        |), truth AS (
        |  SELECT c_custkey AS id_a, c_custkey + 5000000 AS id_b FROM customer
        |), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer)
        |SELECT nn.n AS n_left, nn.n AS n_right,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
        |     JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b) AS n_found,
        |  ROUND(1.0 - CAST((SELECT COUNT(*) FROM cand) AS DOUBLE)
        |    / (CAST(nn.n AS DOUBLE) * CAST(nn.n AS DOUBLE)), 6) AS reduction6,
        |  ROUND(CAST((SELECT COUNT(*) FROM truth t
        |      JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b) AS DOUBLE)
        |    / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE), 6)
        |    AS completeness6
        |FROM nn""".stripMargin,
    "q234_gini_by_source" -> giniBySourceOracle,
    // the per-group counts path, fold, and streamed monitor are held
    // to the per-group rank path's verbatim ground truth
    "q247_group_gini_from_counts" -> giniBySourceOracle,
    "q248_incremental_group_gini" -> giniBySourceOracle,
    "q249_stream_group_gini" -> giniBySourceOracle,
    "q230_gini_token_mass" -> giniTokenMassOracle,
    // the counts-path readout, the incremental fold, and the streamed
    // monitor are all held to the batch rank-path's verbatim ground
    // truth (counts fold by SUM; the rank identity is tie-order-
    // invariant)
    "q237_gini_from_counts" -> giniTokenMassOracle,
    "q238_incremental_gini" -> giniTokenMassOracle,
    "q239_stream_gini" -> giniTokenMassOracle,
    "q253_fleiss_kappa" -> fleissPanelOracle,
    // the incremental cell folds and streamed monitors are held to
    // the batch panel audits' verbatim ground truth
    "q280_incremental_fleiss" -> fleissPanelOracle,
    "q281_stream_fleiss" -> fleissPanelOracle,
    "q254_consolidate_labels" -> consolidationOracle,
    // the incremental cell fold and streamed monitor are held to the
    // batch consolidation's verbatim ground truth
    "q288_incremental_consensus" -> consolidationOracle,
    "q289_stream_consensus" -> consolidationOracle,
    "q255_annotator_report" ->
      s"""WITH $annotationCellsCte,
         |j AS (
         |  SELECT r.rater,
         |    CASE WHEN r.l = cons.l THEN 1 ELSE 0 END AS ok
         |  FROM ratings r
         |  JOIN (SELECT it, l FROM w WHERE rn = 1) cons USING (it)
         |), g AS (
         |  SELECT rater, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(ok) AS BIGINT) AS n_pass
         |  FROM j GROUP BY rater
         |)
         |SELECT rater, n, n_pass, rate6, lo6, hi6,
         |  hi6 < 0.75 AS flagged
         |FROM (${wilsonSql("rater")})
         |ORDER BY rater""".stripMargin,
    "q256_krippendorff_alpha" -> alphaPanelOracle,
    "q282_incremental_alpha" -> alphaPanelOracle,
    "q283_stream_alpha" -> alphaPanelOracle,
    "q257_pairwise_wins" -> pairwiseWinsOracle,
    // the win-count fold and streamed monitor are held to the batch
    // matrix's verbatim ground truth (the same maintained state the
    // BT leaderboard reads)
    "q303_incremental_wins" -> pairwiseWinsOracle,
    "q304_stream_wins" -> pairwiseWinsOracle,
    "q258_bradley_terry" -> bradleyTerryOracle,
    // the win-count fold and streamed leaderboard are held to the
    // batch fit's verbatim ground truth
    "q284_incremental_bt" -> bradleyTerryOracle,
    "q285_stream_bt" -> bradleyTerryOracle,
    "q259_intransitivity" ->
      s"""WITH $preferencePairsCte,
         |cpair AS (
         |  SELECT LEAST(winner, loser) AS a, GREATEST(winner, loser) AS b,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN winner < loser THEN 1 ELSE 0 END)
         |      AS BIGINT) AS wa
         |  FROM prefs GROUP BY 1, 2
         |), mods AS (
         |  SELECT CAST(COUNT(DISTINCT m) AS BIGINT) AS nm
         |  FROM (SELECT a AS m FROM cpair UNION ALL SELECT b FROM cpair)
         |), pr AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS np,
         |    CAST(SUM(CASE WHEN wa*2 = n THEN 1 ELSE 0 END) AS BIGINT)
         |      AS ntied
         |  FROM cpair
         |), e AS (
         |  SELECT CASE WHEN wa*2 > n THEN a ELSE b END AS src,
         |    CASE WHEN wa*2 > n THEN b ELSE a END AS dst
         |  FROM cpair WHERE wa*2 <> n
         |), ecnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS ne FROM e
         |), und AS (
         |  SELECT src AS x, dst AS y FROM e
         |  UNION ALL SELECT dst, src FROM e
         |), closed AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS nc
         |  FROM und e1 JOIN und e2 ON e1.y = e2.x
         |  JOIN und e3 ON e2.y = e3.x AND e3.y = e1.x
         |  WHERE e1.x < e1.y AND e1.y < e2.y
         |), cyc AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS ncy
         |  FROM e e1 JOIN e e2 ON e1.dst = e2.src
         |  JOIN e e3 ON e2.dst = e3.src AND e3.dst = e1.src
         |  WHERE e1.src < e1.dst AND e1.src < e2.dst
         |)
         |SELECT nm AS n_models, np AS n_pairs, ne AS n_edges,
         |  ntied AS n_tied_pairs, nc AS n_closed_triples, ncy AS n_cycles,
         |  CASE WHEN nc > 0
         |    THEN ROUND(CAST(ncy AS DOUBLE) / CAST(nc AS DOUBLE), 6)
         |  END AS cycle_rate6
         |FROM mods, pr, ecnt, closed, cyc""".stripMargin,
    "q260_hhi_token_mass" -> hhiTokenMassOracle,
    // the per-group counts path, fold, and streamed monitor are held
    // to the per-group direct computation's verbatim ground truth
    "q274_group_hhi_from_counts" -> hhiBySourceOracle,
    "q275_incremental_group_hhi" -> hhiBySourceOracle,
    "q276_stream_group_hhi" -> hhiBySourceOracle,
    "q277_group_theil_from_counts" -> theilBySourceOracle,
    "q278_incremental_group_theil" -> theilBySourceOracle,
    "q279_stream_group_theil" -> theilBySourceOracle,
    // the counts path, the incremental fold, and the streamed monitor
    // are held to the direct computation's verbatim ground truth
    // (every HHI sufficient statistic is a SUM over the count state)
    "q263_hhi_from_counts" -> hhiTokenMassOracle,
    "q264_incremental_hhi" -> hhiTokenMassOracle,
    "q265_stream_hhi" -> hhiTokenMassOracle,
    "q261_hhi_by_source" -> hhiBySourceOracle,
    // the counts path, the incremental fold, and the streamed monitor
    // are held to the direct Theil's verbatim ground truth (an integer
    // multiple of a 12dp-rounded decimal term is exact)
    "q270_theil_from_counts" -> theilTokenMassOracle,
    "q271_incremental_theil" -> theilTokenMassOracle,
    "q272_stream_theil" -> theilTokenMassOracle,
    "q268_theil_by_source" -> theilBySourceOracle,
    "q269_theil_decomposition" ->
      """WITH d AS (
        |  SELECT source,
        |    CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS x
        |  FROM documents WHERE text IS NOT NULL
        |), g AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS ng,
        |    SUM(CAST(x AS DECIMAL(38,0))) AS tg
        |  FROM d GROUP BY source
        |), tops AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS gs,
        |    CAST(SUM(ng) AS BIGINT) AS n, SUM(tg) AS t
        |  FROM g
        |), tot AS (
        |  SELECT CAST(SUM(CAST(ROUND(CASE WHEN x > 0 THEN
        |      (CAST(x AS DOUBLE) / CAST(t AS DOUBLE)) *
        |        ln(CAST(n AS DOUBLE) *
        |          (CAST(x AS DOUBLE) / CAST(t AS DOUBLE)))
        |    ELSE 0.0 END, 12) AS DECIMAL(38,12))) AS DOUBLE) AS theil
        |  FROM d, tops
        |), btw AS (
        |  SELECT CAST(SUM(CAST(ROUND(CASE WHEN tg > 0 THEN
        |      (CAST(tg AS DOUBLE) / CAST(t AS DOUBLE)) *
        |        ln((CAST(tg AS DOUBLE) / CAST(t AS DOUBLE)) *
        |          CAST(n AS DOUBLE) / CAST(ng AS DOUBLE))
        |    ELSE 0.0 END, 12) AS DECIMAL(38,12))) AS DOUBLE) AS between
        |  FROM g, tops
        |), win AS (
        |  SELECT CAST(SUM(CAST(ROUND(CASE WHEN x > 0 THEN
        |      (CAST(x AS DOUBLE) / CAST(t AS DOUBLE)) *
        |        ln(CAST(ng AS DOUBLE) * CAST(x AS DOUBLE)
        |          / CAST(tg AS DOUBLE))
        |    ELSE 0.0 END, 12) AS DECIMAL(38,12))) AS DOUBLE) AS within
        |  FROM d JOIN g ON g.source = d.source, tops
        |)
        |SELECT tops.n, tops.gs AS n_groups, CAST(tops.t AS BIGINT) AS total,
        |  ROUND(tot.theil, 6) AS theil6,
        |  ROUND(btw.between, 6) AS between6,
        |  ROUND(win.within, 6) AS within6
        |FROM tops, tot, btw, win""".stripMargin,
    "q290_calibration_by_source" -> groupCalibrationOracle,
    // the group-keyed state fold and streamed monitor are held to the
    // batch per-slice audit's verbatim ground truth
    "q291_incremental_group_calibration" -> groupCalibrationOracle,
    "q292_stream_group_calibration" -> groupCalibrationOracle,
    "q293_weighted_kappa" ->
      s"""WITH sc AS (
         |  SELECT ${hash32Sql("'wa:' || CAST(doc_id AS VARCHAR)")} % 5
         |      AS a0,
         |    ${hash32Sql("'wb:' || CAST(doc_id AS VARCHAR)")} % 3 - 1
         |      AS sh
         |  FROM documents
         |), lv AS (
         |  SELECT a0 AS a, LEAST(GREATEST(a0 + sh, 0), 4) AS b FROM sc
         |), cells AS (
         |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM lv GROUP BY a, b
         |), n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells
         |), nl AS (
         |  SELECT CAST(COUNT(DISTINCT l) AS BIGINT) AS v
         |  FROM (SELECT a AS l FROM cells UNION ALL SELECT b FROM cells)
         |), o AS (
         |  SELECT
         |    SUM(CAST(abs(a - b) AS DECIMAL(38,0)) * c) AS ol,
         |    SUM(CAST((a - b) * (a - b) AS DECIMAL(38,0)) * c) AS oq
         |  FROM cells
         |), ra AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ra
         |  FROM cells GROUP BY a
         |), cb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cb
         |  FROM cells GROUP BY b
         |), e AS (
         |  SELECT
         |    SUM(CAST(abs(ra.a - cb.b) AS DECIMAL(38,0)) *
         |      CAST(ra.ra AS DECIMAL(38,0)) * cb.cb) AS el,
         |    SUM(CAST((ra.a - cb.b) * (ra.a - cb.b) AS DECIMAL(38,0)) *
         |      CAST(ra.ra AS DECIMAL(38,0)) * cb.cb) AS eq
         |  FROM ra CROSS JOIN cb
         |)
         |SELECT n.n, nl.v AS n_levels,
         |  ROUND(1.0 - CAST(n.n * o.ol AS DOUBLE) / CAST(e.el AS DOUBLE), 6)
         |    AS kappa_linear6,
         |  ROUND(1.0 - CAST(n.n * o.oq AS DOUBLE) / CAST(e.eq AS DOUBLE), 6)
         |    AS kappa_quadratic6
         |FROM n, nl, o, e""".stripMargin,
    "q294_kendall_w" ->
      s"""WITH sc AS (
         |  SELECT CAST(d.doc_id AS VARCHAR) AS it,
         |    'r' || CAST(g.r AS VARCHAR) AS rt,
         |    CAST((${hash32Sql("'kwb:' || CAST(d.doc_id AS VARCHAR)")} % 100)
         |        * 10 +
         |      (${hash32Sql(
             "'kwn:' || CAST(g.r AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)")} % 21 - 10)
         |      AS DOUBLE) AS s
         |  FROM documents d CROSS JOIN (SELECT unnest(range(5)) AS r) g
         |), rk AS (
         |  SELECT it,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY rt ORDER BY s, it)
         |      AS BIGINT) AS rnk
         |  FROM sc
         |), ri AS (
         |  SELECT it, CAST(SUM(rnk) AS BIGINT) AS r FROM rk GROUP BY it
         |), dims AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    SUM(CAST(r AS DECIMAL(38,0)) * CAST(r AS DECIMAL(38,0)))
         |      AS s2
         |  FROM ri
         |)
         |SELECT n AS n_items, CAST(5 AS BIGINT) AS n_raters,
         |  ROUND(
         |    CAST(12 * s2 - 3 * 25 * CAST(n AS DECIMAL(38,0)) *
         |        (n + 1) * (n + 1) AS DOUBLE)
         |    / CAST(25 * CAST(n AS DECIMAL(38,0)) * (n * n - 1)
         |        AS DOUBLE), 6) AS w6
         |FROM dims""".stripMargin,
    "q295_vocab_richness" -> vocabRichnessOracle,
    // the frequency fold and streamed monitor are held to the batch
    // estimate's verbatim ground truth (token counts merge by SUM)
    "q296_incremental_vocab" -> vocabRichnessOracle,
    "q297_stream_vocab" -> vocabRichnessOracle,
    "q298_rbo" ->
      """WITH d AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS id,
        |    CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT)
        |      AS ta,
        |    n_chars
        |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL
        |), r AS (
        |  SELECT id,
        |    CAST(ROW_NUMBER() OVER (ORDER BY -CAST(ta AS DOUBLE), id)
        |      AS BIGINT) AS ra,
        |    CAST(ROW_NUMBER() OVER (ORDER BY -CAST(n_chars AS DOUBLE), id)
        |      AS BIGINT) AS rb
        |  FROM d
        |), m AS (SELECT GREATEST(ra, rb) AS mm FROM r
        |), cnt AS (
        |  SELECT mm, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM m WHERE mm <= 50 GROUP BY mm
        |), depths AS (SELECT unnest(range(1, 51)) AS dd
        |), xd AS (
        |  SELECT dd, CAST(COALESCE(
        |    (SELECT SUM(c) FROM cnt WHERE mm <= dd), 0) AS BIGINT) AS x
        |  FROM depths
        |), terms AS (
        |  SELECT dd, x, CAST(ROUND(
        |      power(CAST(0.9 AS DOUBLE), CAST(dd - 1 AS DOUBLE)) *
        |        CAST(x AS DOUBLE) / CAST(dd AS DOUBLE), 12)
        |    AS DECIMAL(38,12)) AS t
        |  FROM xd
        |), agg AS (
        |  SELECT CAST(SUM(t) AS DOUBLE) AS acc,
        |    CAST(MAX(CASE WHEN dd = 50 THEN x END) AS BIGINT) AS xk
        |  FROM terms
        |), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d)
        |SELECT nn.n, 50 AS depth, CAST(0.9 AS DOUBLE) AS p,
        |  agg.xk AS overlap_at_k,
        |  ROUND((CAST(1.0 AS DOUBLE) - CAST(0.9 AS DOUBLE)) * acc, 6)
        |    AS rbo6
        |FROM nn, agg""".stripMargin,
    "q299_kappa_by_lang" ->
      s"""WITH lbl AS (
         |  SELECT lang AS g,
         |    CASE WHEN ${hash32Sql(
             "'ann:0:' || CAST(doc_id AS VARCHAR)")} % 100 < 8
         |      THEN 'z' || substr(md5('annx:0:' ||
         |        CAST(doc_id AS VARCHAR)), 1, 1)
         |      ELSE lang END AS a,
         |    CASE WHEN ${hash32Sql(
             "'ann:1:' || CAST(doc_id AS VARCHAR)")} % 100 < 16
         |      THEN 'z' || substr(md5('annx:1:' ||
         |        CAST(doc_id AS VARCHAR)), 1, 1)
         |      ELSE lang END AS b
         |  FROM documents
         |), cells AS (
         |  SELECT g, a, b, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM lbl GROUP BY g, a, b
         |), t AS (
         |  SELECT g, CAST(SUM(c) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT)
         |      AS n_agree
         |  FROM cells GROUP BY g
         |), ra AS (SELECT g, a, CAST(SUM(c) AS BIGINT) AS ra
         |  FROM cells GROUP BY g, a
         |), cb AS (SELECT g, b, CAST(SUM(c) AS BIGINT) AS cb
         |  FROM cells GROUP BY g, b
         |), p AS (
         |  SELECT ra.g,
         |    SUM(CAST(ra.ra AS DECIMAL(38,0)) *
         |      CAST(cb.cb AS DECIMAL(38,0))) AS p
         |  FROM ra JOIN cb ON ra.g IS NOT DISTINCT FROM cb.g
         |    AND ra.a IS NOT DISTINCT FROM cb.b
         |  GROUP BY ra.g
         |)
         |SELECT t.g AS lang, t.n, t.n_agree,
         |  CASE WHEN CAST(t.n AS DECIMAL(38,0)) * t.n
         |      - COALESCE(p.p, 0) <> 0
         |    THEN ROUND(
         |      CAST(CAST(t.n AS DECIMAL(38,0)) * t.n_agree
         |          - COALESCE(p.p, 0) AS DOUBLE)
         |      / CAST(CAST(t.n AS DECIMAL(38,0)) * t.n
         |          - COALESCE(p.p, 0) AS DOUBLE), 6)
         |  END AS kappa6
         |FROM t LEFT JOIN p ON t.g IS NOT DISTINCT FROM p.g
         |ORDER BY lang""".stripMargin,
    "q300_vocab_by_lang" -> groupVocabOracle,
    // the group-keyed frequency fold and streamed monitor are held to
    // the batch per-language estimate's verbatim ground truth
    "q301_incremental_group_vocab" -> groupVocabOracle,
    "q302_stream_group_vocab" -> groupVocabOracle,
    "q273_brier_ece" -> brierEceOracle,
    "q286_incremental_calibration" -> brierEceOracle,
    "q287_stream_calibration" -> brierEceOracle,
    "q262_theil_token_mass" -> theilTokenMassOracle,
    "q236_fs_decisions" ->
      """WITH l AS (
        |  SELECT c_custkey AS cid, c_mktsegment, c_nationkey, c_name
        |  FROM customer
        |), r AS (
        |  SELECT c_custkey + 5000000 AS cid,
        |    CASE WHEN c_custkey % 5 = 0 THEN 'XX' ELSE c_mktsegment END
        |      AS c_mktsegment,
        |    c_nationkey, c_name
        |  FROM customer
        |), cand AS (
        |  SELECT l.cid AS id_a, r.cid AS id_b,
        |    l.c_mktsegment AS sa, r.c_mktsegment AS sb,
        |    CAST(l.c_nationkey AS VARCHAR) AS na,
        |    CAST(r.c_nationkey AS VARCHAR) AS nb,
        |    l.c_name AS pa, r.c_name AS pb
        |  FROM l JOIN r ON l.cid % 200 = (r.cid - 5000000) % 200
        |), scored AS (
        |  SELECT id_a, id_b,
        |    CAST((CASE WHEN sa IS NULL OR sb IS NULL THEN 0
        |            WHEN sa = sb THEN 1 ELSE 0 END)
        |       + (CASE WHEN na IS NULL OR nb IS NULL THEN 0
        |            WHEN na = nb THEN 1 ELSE 0 END)
        |       + (CASE WHEN pa IS NULL OR pb IS NULL THEN 0
        |            WHEN pa = pb THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
        |    ROUND((CASE WHEN sa IS NULL OR sb IS NULL THEN 0
        |             WHEN sa = sb THEN ln(0.9 / 0.2)
        |             ELSE ln((1 - 0.9) / (1 - 0.2)) END)
        |        + (CASE WHEN na IS NULL OR nb IS NULL THEN 0
        |             WHEN na = nb THEN ln(0.95 / 0.04)
        |             ELSE ln((1 - 0.95) / (1 - 0.04)) END)
        |        + (CASE WHEN pa IS NULL OR pb IS NULL THEN 0
        |             WHEN pa = pb THEN ln(0.99 / 0.001)
        |             ELSE ln((1 - 0.99) / (1 - 0.001)) END), 6) AS score6
        |  FROM cand
        |)
        |SELECT id_a, id_b, n_agree, score6,
        |  CASE WHEN score6 >= 1.863353 THEN 'match'
        |       WHEN score6 <= -3.516029 THEN 'non_match'
        |       ELSE 'review' END AS decision
        |FROM scored ORDER BY id_a, id_b""".stripMargin,
    "q246_fs_fuzzy" ->
      """WITH l AS (
        |  SELECT c_custkey AS cid, c_mktsegment, c_nationkey, c_name
        |  FROM customer
        |), r AS (
        |  SELECT c_custkey + 5000000 AS cid,
        |    CASE WHEN c_custkey % 5 = 0 THEN c_mktsegment || 'X'
        |         ELSE c_mktsegment END AS c_mktsegment,
        |    c_nationkey, c_name
        |  FROM customer
        |), cand AS (
        |  SELECT l.cid AS id_a, r.cid AS id_b,
        |    l.c_mktsegment AS sa, r.c_mktsegment AS sb,
        |    CAST(l.c_nationkey AS VARCHAR) AS na,
        |    CAST(r.c_nationkey AS VARCHAR) AS nb,
        |    l.c_name AS pa, r.c_name AS pb
        |  FROM l JOIN r ON l.cid % 200 = (r.cid - 5000000) % 200
        |), scored AS (
        |  -- segment agreement is FUZZY: Jaro-Winkler >= 0.9 (the
        |  -- engine's kernel is bit-parity with this builtin; fixture
        |  -- sims are all < 0.62 or > 0.97, so the boundary is safe)
        |  SELECT id_a, id_b,
        |    CAST((CASE WHEN sa IS NULL OR sb IS NULL THEN 0
        |            WHEN jaro_winkler_similarity(sa, sb) >= 0.9 THEN 1
        |            ELSE 0 END)
        |       + (CASE WHEN na IS NULL OR nb IS NULL THEN 0
        |            WHEN na = nb THEN 1 ELSE 0 END)
        |       + (CASE WHEN pa IS NULL OR pb IS NULL THEN 0
        |            WHEN pa = pb THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
        |    ROUND((CASE WHEN sa IS NULL OR sb IS NULL THEN 0
        |             WHEN jaro_winkler_similarity(sa, sb) >= 0.9
        |               THEN ln(0.9 / 0.2)
        |             ELSE ln((1 - 0.9) / (1 - 0.2)) END)
        |        + (CASE WHEN na IS NULL OR nb IS NULL THEN 0
        |             WHEN na = nb THEN ln(0.95 / 0.04)
        |             ELSE ln((1 - 0.95) / (1 - 0.04)) END)
        |        + (CASE WHEN pa IS NULL OR pb IS NULL THEN 0
        |             WHEN pa = pb THEN ln(0.99 / 0.001)
        |             ELSE ln((1 - 0.99) / (1 - 0.001)) END), 6) AS score6
        |  FROM cand
        |)
        |SELECT id_a, id_b, n_agree, score6, score6 >= 5.0 AS is_match
        |FROM scored ORDER BY id_a, id_b""".stripMargin,
    "q240_weighted_quantiles_by_group" ->
      """WITH d AS (
        |  SELECT lang AS g,
        |    CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS tok
        |  FROM documents WHERE text IS NOT NULL
        |), c AS (
        |  SELECT g, CAST(tok AS DOUBLE) AS v, CAST(SUM(tok) AS BIGINT) AS cnt
        |  FROM d WHERE tok <> 0 GROUP BY g, tok
        |), cum AS (
        |  SELECT g, v,
        |    SUM(cnt) OVER (PARTITION BY g ORDER BY v) AS cum,
        |    SUM(cnt) OVER (PARTITION BY g) AS w
        |  FROM c
        |), ps AS (
        |  SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS p
        |)
        |SELECT cum.g AS lang, ps.p AS p,
        |  CAST(MAX(cum.w) AS BIGINT) AS n, MIN(cum.v) AS q
        |FROM ps CROSS JOIN cum
        |WHERE cum.cum >= GREATEST(CAST(CEIL(ps.p * cum.w) AS BIGINT), 1)
        |GROUP BY cum.g, ps.p ORDER BY lang, p""".stripMargin,
    "q241_association_by_group" -> groupAssociationOracle,
    // the per-group incremental fold and streamed monitor are held to
    // the per-group batch audit's verbatim ground truth (group-keyed
    // joint counts fold by SUM)
    "q266_incremental_group_association" -> groupAssociationOracle,
    "q267_stream_group_association" -> groupAssociationOracle,
    "q221_exact_quantiles" -> exactQuantilesOracle,
    // held to the batch recompute: the count state folds by SUM, so
    // the incremental and streamed ECDFs are provably the same grid
    "q222_incremental_quantiles" -> exactQuantilesOracle,
    "q223_stream_quantiles" -> exactQuantilesOracle,
    "q216_fingerprint_delta" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
        |  FROM orders
        |), v AS (
        |  SELECT 'base' AS part, o_orderkey, o_custkey, o_orderstatus,
        |    o_orderpriority FROM src
        |  UNION ALL
        |  SELECT 'recomputed', o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey = 7 THEN 'X' ELSE o_orderstatus END,
        |    o_orderpriority FROM src
        |  UNION ALL
        |  SELECT 'ins', o_orderkey, o_custkey, 'X', o_orderpriority
        |  FROM src WHERE o_orderkey = 7
        |  UNION ALL
        |  SELECT 'del', o_orderkey, o_custkey, o_orderstatus,
        |    o_orderpriority FROM src WHERE o_orderkey = 7
        |), canon AS (
        |  SELECT part,
        |    md5(COALESCE(CAST(o_orderkey AS VARCHAR), chr(2)) || chr(1) ||
        |        COALESCE(CAST(o_custkey AS VARCHAR), chr(2)) || chr(1) ||
        |        COALESCE(o_orderstatus, chr(2)) || chr(1) ||
        |        COALESCE(o_orderpriority, chr(2))) AS h
        |  FROM v
        |), halves AS (
        |  SELECT part,
        |    CAST(list_sum(list_transform(range(8), i ->
        |      (strpos('0123456789abcdef',
        |         substr(h, CAST(i+1 AS INT), 1)) - 1) * 16**(7-i)))
        |      AS BIGINT) AS hi,
        |    CAST(list_sum(list_transform(range(8), i ->
        |      (strpos('0123456789abcdef',
        |         substr(h, CAST(i+9 AS INT), 1)) - 1) * 16**(7-i)))
        |      AS BIGINT) AS lo
        |  FROM canon
        |), sig AS (
        |  SELECT part,
        |    CASE WHEN hi >= 2147483648
        |         THEN (hi - 4294967296)*4294967296 + lo
        |         ELSE hi*4294967296 + lo END AS s
        |  FROM halves
        |), agg AS (
        |  SELECT part, SUM(CAST(s AS DECIMAL(38,0))) AS f
        |  FROM sig GROUP BY part
        |), pv AS (
        |  SELECT
        |    (SELECT f FROM agg WHERE part = 'base')
        |      + (SELECT f FROM agg WHERE part = 'ins')
        |      - (SELECT f FROM agg WHERE part = 'del') AS inc,
        |    (SELECT f FROM agg WHERE part = 'recomputed') AS rec
        |)
        |SELECT
        |  CAST(CAST(inc AS DECIMAL(38,0)) AS VARCHAR) AS incremental_fp,
        |  CAST(CAST(rec AS DECIMAL(38,0)) AS VARCHAR) AS recomputed_fp,
        |  CAST(inc AS DECIMAL(38,0)) = CAST(rec AS DECIMAL(38,0))
        |    AS consistent
        |FROM pv""".stripMargin,
    "q215_fd_audit" ->
      """WITH p1 AS (
        |  SELECT doc_id, COUNT(*) AS variants, SUM(c) AS n FROM (
        |    SELECT doc_id, lang, COUNT(*) AS c FROM documents
        |    GROUP BY 1, 2) GROUP BY 1
        |), r1 AS (
        |  SELECT 'doc_id->lang' AS dependency,
        |    CAST(COUNT(*) AS BIGINT) AS n_groups,
        |    CAST(SUM(CASE WHEN variants > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violating_groups,
        |    CAST(COALESCE(SUM(CASE WHEN variants > 1 THEN n END), 0)
        |      AS BIGINT) AS n_violating_rows,
        |    CAST(COALESCE(MAX(variants), 0) AS BIGINT) AS max_rhs_variants
        |  FROM p1
        |), p2 AS (
        |  SELECT lang, COUNT(*) AS variants, SUM(c) AS n FROM (
        |    SELECT lang, source, COUNT(*) AS c FROM documents
        |    GROUP BY 1, 2) GROUP BY 1
        |), r2 AS (
        |  SELECT 'lang->source' AS dependency,
        |    CAST(COUNT(*) AS BIGINT) AS n_groups,
        |    CAST(SUM(CASE WHEN variants > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violating_groups,
        |    CAST(COALESCE(SUM(CASE WHEN variants > 1 THEN n END), 0)
        |      AS BIGINT) AS n_violating_rows,
        |    CAST(COALESCE(MAX(variants), 0) AS BIGINT) AS max_rhs_variants
        |  FROM p2
        |)
        |SELECT * FROM r1 UNION ALL SELECT * FROM r2
        |ORDER BY dependency""".stripMargin,
    "q166_dedup_savings" -> dedupSavingsOracle,
    "q47_bloom_pruned_join" ->
      """SELECT p_brand, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 5
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q48_stratified_sample" ->
      """WITH h AS (
        |  SELECT lang, doc_id, n_chars,
        |    CAST(list_sum(list_transform(range(8), i ->
        |      (strpos('0123456789abcdef',
        |         substr(md5(CAST(doc_id AS VARCHAR)), CAST(i+1 AS INT), 1)) - 1)
        |        * 16**(7-i))) AS BIGINT) AS hv
        |  FROM documents
        |)
        |SELECT lang, COUNT(*) AS n_docs,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM h
        |WHERE hv % 16 < (CASE lang WHEN 'en' THEN 8 WHEN 'fr' THEN 16
        |                           WHEN 'de' THEN 4 WHEN 'es' THEN 2
        |                           ELSE 0 END)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q49_corpus_clean" ->
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id, lang, string_split_regex(trim(text), ' +') AS toks
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, lang, toks, len(toks) AS n_tokens
        |  FROM tk WHERE len(toks) >= 20
        |), s AS (
        |  SELECT doc_id, list_distinct(list_transform(range(len(toks)-2), i ->
        |      toks[CAST(i+1 AS INT)] || '_' || toks[CAST(i+2 AS INT)]
        |        || '_' || toks[CAST(i+3 AS INT)])) AS sh
        |  FROM f
        |), ex AS (
        |  SELECT doc_id, len(sh) AS m, unnest(sh) AS g FROM s
        |), p AS (
        |  -- inverted-index candidates (exact for j >= 0.5 > 0);
        |  -- see componentsOracleCte
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(COUNT(*) AS DOUBLE)
        |      / NULLIF(CAST(a.m + b.m - COUNT(*) AS DOUBLE), 0.0) AS j
        |  FROM ex a JOIN ex b ON a.g = b.g AND b.doc_id > a.doc_id
        |  GROUP BY a.doc_id, b.doc_id, a.m, b.m
        |), e AS (SELECT id_a, id_b FROM p WHERE j >= 0.5
        |), sym AS (
        |  SELECT id_a AS a, id_b AS b FROM e
        |  UNION SELECT id_b, id_a FROM e
        |), reach AS (
        |  SELECT a AS node, a AS r FROM sym
        |  UNION
        |  SELECT s2.a, r.r FROM sym s2 JOIN reach r ON s2.b = r.node
        |), comp AS (SELECT node, MIN(r) AS c FROM reach GROUP BY node
        |), losers AS (SELECT node AS doc_id FROM comp WHERE node <> c)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM f WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q50_vocab_build" ->
      """WITH freq AS (
        |  SELECT token, COUNT(*) AS freq
        |  FROM (SELECT unnest(string_split_regex(trim(text), ' +')) AS token
        |        FROM documents)
        |  GROUP BY token HAVING COUNT(*) >= 50
        |)
        |SELECT ROW_NUMBER() OVER (ORDER BY freq DESC, token) - 1 AS token_id,
        |  token, freq
        |FROM freq ORDER BY token_id""".stripMargin,
    "q51_quantize_int8" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding,
        |      y -> abs(CAST(y AS DOUBLE)))) AS ma
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id,
        |    CASE WHEN ma = 0 THEN 0.0 ELSE 127.0 / ma END AS scale,
        |    list_transform(embedding, x -> GREATEST(-127, LEAST(127,
        |      CAST(floor(CAST(x AS DOUBLE)
        |        * (CASE WHEN ma = 0 THEN 0.0 ELSE 127.0 / ma END)
        |        + 0.5) AS INTEGER)))) AS qv
        |  FROM m
        |)
        |SELECT vec_id, CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_min(qv) AS INTEGER) AS q_min,
        |  CAST(list_max(qv) AS INTEGER) AS q_max,
        |  scale
        |FROM q ORDER BY vec_id""".stripMargin,
    "q52_decontaminate" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |         ELSE list_distinct(list_transform(range(len(toks)-2), i ->
        |           toks[CAST(i+1 AS INT)] || '_' || toks[CAST(i+2 AS INT)]
        |             || '_' || toks[CAST(i+3 AS INT)])) END AS sh
        |  FROM tk
        |), tr AS (
        |  SELECT DISTINCT unnest(sh) AS gram FROM s WHERE doc_id % 7 != 3
        |), te AS (
        |  SELECT doc_id, unnest(sh) AS gram FROM s WHERE doc_id % 7 = 3
        |), h AS (
        |  SELECT doc_id, COUNT(*) AS n_cont FROM te
        |  WHERE gram IN (SELECT gram FROM tr) GROUP BY doc_id
        |)
        |SELECT s.doc_id, CAST(len(s.sh) AS INTEGER) AS n_grams,
        |  CAST(COALESCE(h.n_cont, 0) AS BIGINT) AS n_contaminated,
        |  CASE WHEN len(s.sh) = 0 THEN 0.0
        |       ELSE CAST(COALESCE(h.n_cont, 0) AS DOUBLE)
        |         / CAST(len(s.sh) AS DOUBLE) END AS contamination
        |FROM s LEFT JOIN h ON s.doc_id = h.doc_id
        |WHERE s.doc_id % 7 = 3 ORDER BY s.doc_id""".stripMargin,
    "q53_repetition_metrics" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks FROM documents
        |), b AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
        |         ELSE list_transform(range(len(toks)-1), i ->
        |           toks[CAST(i+1 AS INT)] || '_' || toks[CAST(i+2 AS INT)]) END AS bg
        |  FROM t
        |)
        |SELECT doc_id,
        |  CAST(len(toks) AS INTEGER) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_tokens,
        |  1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
        |    / CAST(len(toks) AS DOUBLE) AS dup_token_frac,
        |  COALESCE(CAST(list_max(list_transform(list_distinct(bg),
        |      x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE)
        |    / CAST(len(toks) - 1 AS DOUBLE), 0.0) AS top_bigram_frac
        |FROM b ORDER BY doc_id""".stripMargin,
    "q54_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS n_tokens
        |  FROM documents
        |)
        |SELECT doc_id, n_tokens,
        |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS start_offset,
        |  CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0)
        |    AS BIGINT) AS seq_id
        |FROM t ORDER BY doc_id""".stripMargin,
    "q55_cross_corpus_neardup" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |         ELSE list_distinct(list_transform(range(len(toks)-2), i ->
        |           toks[CAST(i+1 AS INT)] || '_' || toks[CAST(i+2 AS INT)]
        |             || '_' || toks[CAST(i+3 AS INT)])) END AS sh
        |  FROM tk
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / NULLIF(CAST(len(a.sh) + len(b.sh)
        |          - len(list_intersect(a.sh, b.sh)) AS DOUBLE), 0.0) AS j
        |  FROM s a JOIN s b
        |    ON a.doc_id % 7 = 3 AND b.doc_id % 7 != 3
        |)
        |SELECT id_a, id_b, ROUND(j, 4) AS jaccard FROM p
        |WHERE j >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    "q56_leakage_safe_split" ->
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |         ELSE list_distinct(list_transform(range(len(toks)-2), i ->
        |           toks[CAST(i+1 AS INT)] || '_' || toks[CAST(i+2 AS INT)]
        |             || '_' || toks[CAST(i+3 AS INT)])) END AS sh
        |  FROM tk
        |), ex AS (
        |  SELECT doc_id, len(sh) AS m, unnest(sh) AS g FROM s
        |), p AS (
        |  -- inverted-index candidates (exact for j >= 0.5 > 0);
        |  -- see componentsOracleCte
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(COUNT(*) AS DOUBLE)
        |      / NULLIF(CAST(a.m + b.m - COUNT(*) AS DOUBLE), 0.0) AS j
        |  FROM ex a JOIN ex b ON a.g = b.g AND b.doc_id > a.doc_id
        |  GROUP BY a.doc_id, b.doc_id, a.m, b.m
        |), e AS (
        |  SELECT id_a, id_b FROM p WHERE j >= 0.5
        |), sym AS (
        |  SELECT id_a AS a, id_b AS b FROM e
        |  UNION SELECT id_b, id_a FROM e
        |), reach AS (
        |  SELECT a AS node, a AS r FROM sym
        |  UNION
        |  SELECT s2.a, r.r FROM sym s2 JOIN reach r ON s2.b = r.node
        |), comp AS (
        |  SELECT node, MIN(r) AS comp FROM reach GROUP BY node
        |), reps AS (
        |  SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS rep
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        |)
        |SELECT doc_id, rep,
        |  CAST(CAST(list_sum(list_transform(range(8), i ->
        |    (strpos('0123456789abcdef',
        |       substr(md5(CAST(rep AS VARCHAR)), CAST(i+1 AS INT), 1)) - 1)
        |      * 16**(7-i))) AS BIGINT) % 10 AS INTEGER) AS split
        |FROM reps ORDER BY doc_id""".stripMargin,
    "q57_quantized_topk" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS ma
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id,
        |    CASE WHEN ma = 0 THEN 0.0 ELSE 127.0 / ma END AS scale,
        |    list_transform(embedding, x -> GREATEST(-127, LEAST(127,
        |      CAST(floor(CAST(x AS DOUBLE)
        |        * (CASE WHEN ma = 0 THEN 0.0 ELSE 127.0 / ma END)
        |        + 0.5) AS INTEGER)))) AS qv
        |  FROM m
        |), qq AS (
        |  SELECT scale AS s_q, qv AS qv_q FROM q WHERE vec_id = 0
        |), d AS (
        |  SELECT q.vec_id,
        |    CAST(list_sum(list_transform(range(len(qv)), i ->
        |      CAST(qv[CAST(i+1 AS INT)] AS BIGINT)
        |        * CAST(qv_q[CAST(i+1 AS INT)] AS BIGINT))) AS BIGINT) AS dot_q,
        |    scale, s_q
        |  FROM q, qq WHERE q.vec_id != 0
        |)
        |SELECT vec_id, dot_q,
        |  CASE WHEN scale = 0 OR s_q = 0 THEN 0.0
        |       ELSE CAST(dot_q AS DOUBLE) / (scale * s_q) END AS approx_dot
        |FROM d ORDER BY approx_dot DESC, vec_id LIMIT 10""".stripMargin,
    "q58_stream_interval_join" ->
      """SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b
        |FROM events a JOIN events b
        |  ON a.event_type = 'click' AND b.event_type = 'purchase'
        |  AND a.user_id = b.user_id
        |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 2 HOUR
        |ORDER BY a.user_id, id_a, id_b""".stripMargin,
    "q59_stream_enrich" ->
      """SELECT e.event_id, e.user_id, e.event_type,
        |  c.c_mktsegment AS segment, e.value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin,
    "q60_pii_redact" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    text || ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example' ||
        |    CASE WHEN doc_id % 3 = 0
        |         THEN ' cc u' || CAST(doc_id AS VARCHAR) || '@backup.example'
        |         ELSE '' END ||
        |    ' ph 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        |    ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS pii
        |  FROM documents),
        |s1 AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(pii,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
        |    regexp_replace(pii,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
        |  FROM planted),
        |s2 AS (
        |  SELECT doc_id, n_email,
        |    CAST(len(regexp_extract_all(t, '\b555-[0-9]{4}\b')) AS INTEGER) AS n_phone,
        |    regexp_replace(t, '\b555-[0-9]{4}\b', '<PHONE>', 'g') AS t
        |  FROM s1),
        |s3 AS (
        |  SELECT doc_id, n_email, n_phone,
        |    CAST(len(regexp_extract_all(t,
        |      '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS INTEGER) AS n_ipv4,
        |    regexp_replace(t, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS t
        |  FROM s2)
        |SELECT doc_id, n_email, n_phone, n_ipv4, md5(t) AS redacted_md5
        |FROM s3 ORDER BY doc_id""".stripMargin,
    "q61_shuffle_shard" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
        |  FROM documents)
        |SELECT doc_id, pos, CAST(pos % 8 AS INTEGER) AS shard
        |FROM p ORDER BY doc_id""".stripMargin,
    "q62_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(trim(text), ' +')) AS token FROM documents),
        |cnts AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
        |tot AS (SELECT SUM(cnt) AS n FROM cnts)
        |SELECT token, cnt FROM cnts, tot WHERE cnt * 31 > n
        |ORDER BY token""".stripMargin,
    // q63 runs the same clustering through star contraction — the two
    // formulations must agree label-for-label, so they share the oracle.
    "q63_dedup_clusters_star" -> dedupClustersOracle,
    "q64_dup_ngram_stats" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |         ELSE list_distinct(list_transform(range(len(toks)-2), i ->
        |           toks[CAST(i+1 AS INT)] || '_' || toks[CAST(i+2 AS INT)]
        |             || '_' || toks[CAST(i+3 AS INT)])) END AS sh
        |  FROM tk
        |), g AS (
        |  SELECT doc_id, unnest(sh) AS gram FROM s
        |), c AS (
        |  SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2
        |), d AS (
        |  SELECT g.doc_id, COUNT(*) AS n_dup FROM g
        |  WHERE g.gram IN (SELECT gram FROM c) GROUP BY g.doc_id
        |)
        |SELECT s.doc_id, CAST(len(s.sh) AS INTEGER) AS n_grams,
        |  CAST(COALESCE(d.n_dup, 0) AS BIGINT) AS n_dup,
        |  CASE WHEN len(s.sh) = 0 THEN 0.0
        |       ELSE CAST(COALESCE(d.n_dup, 0) AS DOUBLE)
        |         / CAST(len(s.sh) AS DOUBLE) END AS dup_frac
        |FROM s LEFT JOIN d ON s.doc_id = d.doc_id
        |ORDER BY s.doc_id""".stripMargin,
    "q65_inverted_index" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT token, doc_id, COUNT(*) AS tf FROM t GROUP BY token, doc_id
        |), df AS (
        |  SELECT token, COUNT(*) AS doc_freq FROM tf GROUP BY token
        |), r AS (
        |  SELECT tf.token, df.doc_freq, tf.doc_id, tf.tf,
        |    ROW_NUMBER() OVER (PARTITION BY tf.token
        |      ORDER BY tf.tf DESC, tf.doc_id) AS rn
        |  FROM tf JOIN df ON tf.token = df.token
        |  WHERE df.doc_freq >= 50
        |)
        |SELECT token, doc_freq, doc_id, CAST(tf AS BIGINT) AS tf
        |FROM r WHERE rn <= 10 ORDER BY token, doc_id""".stripMargin,
    "q66_cap_sample" ->
      """WITH n AS (
        |  SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
        |), th AS (
        |  SELECT lang,
        |    CAST(round(LEAST(1.0, 72.0 / cnt) * 64) AS BIGINT) AS thr
        |  FROM n
        |), h AS (
        |  SELECT lang, doc_id, n_chars,
        |    CAST(list_sum(list_transform(range(8), i ->
        |      (strpos('0123456789abcdef',
        |         substr(md5(CAST(doc_id AS VARCHAR)), CAST(i+1 AS INT), 1)) - 1)
        |        * 16**(7-i))) AS BIGINT) AS hv
        |  FROM documents
        |)
        |SELECT h.lang, COUNT(*) AS n_docs,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM h JOIN th ON h.lang = th.lang
        |WHERE h.hv % 64 < th.thr
        |GROUP BY h.lang ORDER BY h.lang""".stripMargin,
    "q67_exact_cap" ->
      """WITH h AS (
        |  SELECT lang, doc_id, n_chars,
        |    CAST(list_sum(list_transform(range(8), i ->
        |      (strpos('0123456789abcdef',
        |         substr(md5(CAST(doc_id AS VARCHAR)), CAST(i+1 AS INT), 1)) - 1)
        |        * 16**(7-i))) AS BIGINT) AS hv
        |  FROM documents
        |), r AS (
        |  SELECT lang, doc_id, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY hv DESC, doc_id) AS rn
        |  FROM h
        |)
        |SELECT lang, COUNT(*) AS n_docs,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM r WHERE rn <= 60
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q68_bm25" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks FROM documents
        |), st AS (
        |  SELECT COUNT(*) AS n, SUM(len(toks)) AS tot FROM tk
        |), t AS (
        |  SELECT doc_id, len(toks) AS dl, unnest(toks) AS token FROM tk
        |), tf AS (
        |  SELECT doc_id, dl, token, COUNT(*) AS tf FROM t GROUP BY doc_id, dl, token
        |), dfq AS (
        |  SELECT token, COUNT(*) AS doc_freq
        |  FROM (SELECT DISTINCT doc_id, token FROM t) GROUP BY token
        |)
        |SELECT tf.doc_id, tf.token, tf.tf, dfq.doc_freq,
        |  CAST(tf.dl AS INTEGER) AS dl,
        |  round((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 +
        |    (0.75 * tf.dl) / (CAST(st.tot AS DOUBLE) / st.n))), 6) AS tf_norm6,
        |  (CAST(st.n AS DOUBLE) - dfq.doc_freq + 0.5) / (dfq.doc_freq + 0.5)
        |    + 1.0 AS idf_arg
        |FROM tf CROSS JOIN st JOIN dfq ON tf.token = dfq.token
        |WHERE tf.doc_id % 25 = 0
        |ORDER BY tf.doc_id, tf.token""".stripMargin,
    "q69_ivf_batch_topk" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000*j AS vec_id,
        |    list_transform(list_zip(embedding, range(1, len(embedding)+1)),
        |      z -> CASE WHEN z[2] = j
        |           THEN CAST(z[1] * CAST(2**j AS REAL) AS REAL) ELSE z[1] END)
        |      AS embedding
        |  FROM embeddings CROSS JOIN (SELECT unnest([1,2,3]) AS j)
        |), q AS (
        |  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10
        |), scored AS (
        |  SELECT q.qid, e.vec_id,
        |    list_sum(list_transform(list_zip(e.embedding, q.qv),
        |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(q.qv,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
        |  FROM corpus e CROSS JOIN q
        |  WHERE e.vec_id >= 10
        |), r AS (
        |  SELECT qid, vec_id, c,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rn
        |  FROM scored
        |)
        |SELECT qid, vec_id, ROUND(c, 4) AS cosine
        |FROM r WHERE rn <= 3 ORDER BY qid, vec_id""".stripMargin,
    "q70_stream_exclude_known" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events
        |WHERE user_id NOT IN (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY event_id""".stripMargin,
    "q71_mean_pool" ->
      """WITH e AS (
        |  SELECT label, CAST(unnest(range(len(embedding))) AS INTEGER) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings
        |)
        |SELECT label, dim, COUNT(*) AS n_vecs,
        |  ROUND(SUM(x) / COUNT(*), 6) AS mean6
        |FROM e GROUP BY label, dim
        |ORDER BY label, dim""".stripMargin,
    "q72_cdc_chunks" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks FROM documents
        |), t AS (
        |  SELECT doc_id, CAST(unnest(range(len(toks))) AS INTEGER) AS pos,
        |    unnest(toks) AS tok
        |  FROM tk
        |), h AS (
        |  SELECT doc_id, pos, tok,
        |    CASE WHEN CAST(list_sum(list_transform(range(8), i ->
        |      (strpos('0123456789abcdef',
        |         substr(md5(tok), CAST(i+1 AS INT), 1)) - 1)
        |        * 16**(7-i))) AS BIGINT) % 8 = 3 THEN 1 ELSE 0 END AS b
        |  FROM t
        |), c AS (
        |  SELECT doc_id, pos, tok,
        |    CAST(COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS INTEGER) AS chunk_idx
        |  FROM h
        |)
        |SELECT doc_id, chunk_idx, COUNT(*) AS n_tokens,
        |  md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_fp
        |FROM c GROUP BY doc_id, chunk_idx
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q74_dedup_retain_best" -> dedupRetainBestOracle,
    "q76_unicode_normalize" ->
      """SELECT doc_id, md5(nfc_normalize(text)) AS text_md5,
        |  CAST(length(nfc_normalize(text)) AS INTEGER) AS n_chars_nfc
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q75_hybrid_search" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents
        |), lex AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(t, x -> x = 'vector')) +
        |         len(list_filter(t, x -> x = 'hash')) +
        |         len(list_filter(t, x -> x = 'merge')) AS INTEGER) AS lex_tf
        |  FROM toks
        |), cand AS (
        |  SELECT doc_id, lex_tf FROM lex
        |  WHERE lex_tf > 0 AND doc_id <> 0
        |  ORDER BY lex_tf DESC, doc_id LIMIT 50
        |), q AS (
        |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
        |), scored AS (
        |  SELECT cd.doc_id, cd.lex_tf,
        |    list_sum(list_transform(list_zip(e.embedding, q.qv),
        |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(q.qv,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
        |  FROM cand cd JOIN embeddings e ON e.vec_id = cd.doc_id CROSS JOIN q
        |), top AS (
        |  SELECT doc_id, lex_tf, c FROM scored ORDER BY c DESC, doc_id LIMIT 10
        |)
        |SELECT doc_id, lex_tf, ROUND(c, 4) AS cosine FROM top
        |ORDER BY doc_id""".stripMargin,
    "q73_cdc_dup_stats" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks FROM documents
        |), t AS (
        |  SELECT doc_id, CAST(unnest(range(len(toks))) AS INTEGER) AS pos,
        |    unnest(toks) AS tok
        |  FROM tk
        |), h AS (
        |  SELECT doc_id, pos, tok,
        |    CASE WHEN CAST(list_sum(list_transform(range(8), i ->
        |      (strpos('0123456789abcdef',
        |         substr(md5(tok), CAST(i+1 AS INT), 1)) - 1)
        |        * 16**(7-i))) AS BIGINT) % 8 = 3 THEN 1 ELSE 0 END AS b
        |  FROM t
        |), c AS (
        |  SELECT doc_id, pos, tok,
        |    CAST(COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS INTEGER) AS chunk_idx
        |  FROM h
        |), g AS (
        |  SELECT doc_id, chunk_idx, COUNT(*) AS n_tokens,
        |    md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_fp
        |  FROM c GROUP BY doc_id, chunk_idx
        |), d AS (
        |  SELECT chunk_fp FROM g GROUP BY chunk_fp
        |  HAVING COUNT(DISTINCT doc_id) >= 2
        |), p AS (
        |  SELECT doc_id, COUNT(*) AS n_dup_chunks,
        |    SUM(n_tokens) AS n_dup_tokens
        |  FROM g WHERE chunk_fp IN (SELECT chunk_fp FROM d)
        |  GROUP BY doc_id
        |), tt AS (
        |  SELECT doc_id, COUNT(*) AS n_chunks, SUM(n_tokens) AS n_tokens
        |  FROM g GROUP BY doc_id
        |)
        |SELECT tt.doc_id, tt.n_chunks, CAST(tt.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(p.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
        |  CAST(COALESCE(p.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
        |  CAST(COALESCE(p.n_dup_tokens, 0) AS DOUBLE)
        |    / CAST(tt.n_tokens AS DOUBLE) AS dup_token_frac
        |FROM tt LEFT JOIN p ON tt.doc_id = p.doc_id
        |ORDER BY tt.doc_id""".stripMargin,
    "q77_resize_plan" ->
      """WITH f AS (
        |  SELECT doc_id AS media_id,
        |    octet_length(CAST(text AS BLOB)) AS len
        |  FROM documents
        |), d AS (
        |  SELECT media_id,
        |    CASE WHEN len > 0 THEN CAST(len % 640 + 1 AS INTEGER) END AS width,
        |    CASE WHEN len > 0 THEN CAST(len % 480 + 1 AS INTEGER) END AS height
        |  FROM f
        |), s AS (
        |  SELECT media_id, width, height,
        |    CASE WHEN width IS NOT NULL AND height IS NOT NULL
        |         THEN LEAST(320.0 / width, 240.0 / height, 1.0) END AS scale
        |  FROM d
        |)
        |SELECT media_id, width, height, scale,
        |  CASE WHEN scale IS NOT NULL
        |       THEN CAST(GREATEST(FLOOR(width * scale), 1) AS INTEGER)
        |  END AS target_width,
        |  CASE WHEN scale IS NOT NULL
        |       THEN CAST(GREATEST(FLOOR(height * scale), 1) AS INTEGER)
        |  END AS target_height
        |FROM s ORDER BY media_id""".stripMargin,
    "q78_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, text, length(text) AS len FROM documents
        |), s AS (
        |  SELECT media_id, text, len, GREATEST(len // 4, 1) AS stride FROM m
        |)
        |SELECT media_id, CAST(len AS INTEGER) AS n_bytes,
        |  lower(hex(CAST(substring(text, 1, 16) AS BLOB))) AS f1_hex,
        |  lower(hex(CAST(substring(text, CAST(3*stride + 1 AS BIGINT), 16)
        |    AS BLOB))) AS f4_hex,
        |  CAST(length(substring(text, CAST(3*stride + 1 AS BIGINT), 16))
        |    AS INTEGER) AS f4_len
        |FROM s ORDER BY media_id""".stripMargin,
    "q79_sorted_grouped_apply" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value,
        |    LAG(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rrn
        |  FROM events
        |)
        |SELECT user_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  MIN(CASE WHEN rn = 1 THEN value END) AS first_val,
        |  MIN(CASE WHEN rrn = 1 THEN value END) AS last_val,
        |  CAST(COUNT(CASE WHEN prev IS NOT NULL AND value > prev THEN 1 END)
        |    AS BIGINT) AS n_incr
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q80_exact_cap_string" ->
      """WITH h AS (
        |  SELECT lang, 'd' || CAST(doc_id AS VARCHAR) AS doc_key, n_chars,
        |    CAST(list_sum(list_transform(range(8), i ->
        |      (strpos('0123456789abcdef',
        |         substr(md5('d' || CAST(doc_id AS VARCHAR)), CAST(i+1 AS INT), 1)) - 1)
        |        * 16**(7-i))) AS BIGINT) % 8 AS hb
        |  FROM documents
        |), r AS (
        |  SELECT lang, doc_key, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY hb DESC, doc_key) AS rn
        |  FROM h
        |)
        |SELECT lang, COUNT(*) AS n_docs,
        |  MIN(doc_key) AS min_key, MAX(doc_key) AS max_key,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM r WHERE rn <= 50
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q81_group_totals" ->
      """WITH g AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |    COUNT(*) AS n_rows
        |  FROM lineitem GROUP BY 1, 2
        |), t AS (
        |  SELECT l_returnflag,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS flag_qty,
        |    COUNT(*) AS flag_rows
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT g.l_returnflag, g.l_linestatus, g.sum_qty, t.flag_qty,
        |  CAST(t.flag_rows AS BIGINT) AS flag_rows,
        |  CAST(g.n_rows AS BIGINT) AS n_rows,
        |  g.sum_qty / t.flag_qty AS qty_share
        |FROM g JOIN t USING (l_returnflag) ORDER BY 1, 2""".stripMargin,
    "q82_csv_roundtrip" ->
      """SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n_nations,
        |  MIN(n_name) AS min_name,
        |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_keys
        |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin,
    "q83_bucketed_join" ->
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q84_profile" ->
      """WITH p AS (
        |  SELECT 'doc_id' AS col_name, COUNT(*) AS n_rows,
        |    COUNT(*) - COUNT(doc_id) AS n_null,
        |    COUNT(DISTINCT doc_id) AS n_distinct,
        |    CAST(MIN(doc_id) AS VARCHAR) AS min_val,
        |    CAST(MAX(doc_id) AS VARCHAR) AS max_val
        |  FROM documents
        |  UNION ALL SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang),
        |    COUNT(DISTINCT lang), MIN(lang), MAX(lang) FROM documents
        |  UNION ALL SELECT 'source', COUNT(*), COUNT(*) - COUNT(source),
        |    COUNT(DISTINCT source), MIN(source), MAX(source) FROM documents
        |  UNION ALL SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars),
        |    COUNT(DISTINCT n_chars), CAST(MIN(n_chars) AS VARCHAR),
        |    CAST(MAX(n_chars) AS VARCHAR) FROM documents
        |)
        |SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_null AS BIGINT) AS n_null,
        |  CAST(n_distinct AS BIGINT) AS n_distinct, min_val, max_val
        |FROM p ORDER BY col_name""".stripMargin,
    "q85_top_values" ->
      """WITH pairs AS (
        |  SELECT 'lang' AS col_name, CAST(lang AS VARCHAR) AS value
        |  FROM documents WHERE lang IS NOT NULL
        |  UNION ALL SELECT 'source', CAST(source AS VARCHAR)
        |  FROM documents WHERE source IS NOT NULL
        |  UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR)
        |  FROM documents WHERE n_chars IS NOT NULL
        |), c AS (
        |  SELECT col_name, value, COUNT(*) AS n FROM pairs GROUP BY 1, 2
        |), r AS (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY col_name ORDER BY n DESC, value) AS rk FROM c
        |)
        |SELECT col_name, value, CAST(n AS BIGINT) AS n
        |FROM r WHERE rk <= 5 ORDER BY col_name, n DESC, value""".stripMargin,
    "q86_mixture_sample" ->
      """WITH w(lang, w) AS (VALUES
        |  ('de', 0.2), ('en', 0.4), ('es', 0.1), ('fr', 0.2), ('zh', 0.1)
        |), tot AS (
        |  SELECT lang, CAST(SUM(n_chars) AS DOUBLE) AS total FROM documents
        |  GROUP BY 1
        |), r AS (
        |  SELECT lang, CAST(FLOOR(LEAST(1.0,
        |    20000.0 * CAST(w AS DOUBLE) / total) * 4294967296.0) AS BIGINT)
        |    AS thresh
        |  FROM tot JOIN w USING (lang)
        |), h AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(list_sum(list_transform(range(8), i ->
        |      (strpos('0123456789abcdef',
        |         substr(md5(CAST(doc_id AS VARCHAR)), CAST(i+1 AS INT), 1)) - 1)
        |        * 16**(7-i))) AS BIGINT) AS hv
        |  FROM documents
        |)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM h JOIN r USING (lang) WHERE hv < thresh
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q87_incremental_dedup" ->
      """WITH f AS (
        |  SELECT doc_id, lang, source, n_chars,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |        '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
        |  FROM documents
        |), ledger AS (
        |  SELECT DISTINCT fp FROM f WHERE source = 'src0'
        |), winners AS (
        |  SELECT fp, MIN(doc_id) AS doc_id FROM f WHERE source <> 'src0'
        |  GROUP BY fp
        |)
        |SELECT f.doc_id, f.lang, f.source, f.n_chars
        |FROM f
        |JOIN winners USING (doc_id)
        |WHERE NOT EXISTS (SELECT 1 FROM ledger WHERE ledger.fp = winners.fp)
        |ORDER BY f.doc_id""".stripMargin,
    "q88_fuzzy_pairs" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    substr(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), 1, 64) AS key
        |  FROM documents
        |), kb AS (SELECT doc_id, key, substr(key, 1, 6) AS blk FROM k)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.key, b.key) AS INTEGER) AS dist
        |FROM kb a JOIN kb b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.key, b.key) <= 10
        |ORDER BY id_a, id_b""".stripMargin,
    "q89_zscore" ->
      """SELECT doc_id, lang,
        |  ROUND((n_chars - AVG(n_chars) OVER w) / STDDEV_SAMP(n_chars) OVER w,
        |    6) AS z6
        |FROM documents
        |WINDOW w AS (PARTITION BY lang)
        |ORDER BY doc_id""".stripMargin,
    "q90_winsorize" ->
      """WITH b AS (
        |  SELECT lang,
        |    quantile_cont(n_chars, 0.0625) AS lo,
        |    quantile_cont(n_chars, 0.9375) AS hi
        |  FROM documents GROUP BY lang
        |), c AS (
        |  -- NULL stays NULL: DuckDB's LEAST/GREATEST skip NULLs and
        |  -- would fabricate the lo bound, diverging from the engine.
        |  -- Null-safe join: the operator's pinned contract clips a NULL
        |  -- lang within its own stratum, so the oracle must not reject
        |  -- NULL-lang rows with a plain equality join.
        |  SELECT d.lang,
        |    CASE WHEN n_chars IS NULL THEN NULL
        |         ELSE LEAST(GREATEST(CAST(n_chars AS DOUBLE), lo), hi) END AS w
        |  FROM documents d JOIN b ON d.lang IS NOT DISTINCT FROM b.lang
        |)
        |SELECT lang, COUNT(*) AS n,
        |  ROUND(AVG(w), 6) AS win_mean,
        |  ROUND(MIN(w), 6) AS win_min,
        |  ROUND(MAX(w), 6) AS win_max
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,
    "q91_decay_sum" ->
      """WITH r AS (SELECT MAX(epoch_us(ts)) AS ref_us FROM events)
        |SELECT user_id,
        |  ROUND(SUM(value * POWER(0.5,
        |    CAST(ref_us - epoch_us(ts) AS DOUBLE) / 1000000.0 / 604800.0)), 6)
        |    AS decayed6,
        |  COUNT(*) AS n
        |FROM events, r
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q92_funnel" -> funnelOracle,
    "q93_cohort" ->
      """WITH f AS (
        |  SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
        |), j AS (
        |  SELECT e.user_id,
        |    CAST(date_trunc('week', f.first_ts) AS DATE) AS cw,
        |    CAST(date_trunc('week', e.ts) AS DATE) AS ww
        |  FROM events e JOIN f ON e.user_id = f.user_id
        |)
        |SELECT CAST(cw AS VARCHAR) AS cohort_week,
        |  CAST(date_diff('day', cw, ww) // 7 AS INTEGER) AS week_offset,
        |  COUNT(DISTINCT user_id) AS n_keys
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q94_rolling_window" ->
      """SELECT event_id,
        |  COUNT(*) OVER w AS n_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q95_json_roundtrip" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(md5(text)) AS min_md5, MAX(md5(text)) AS max_md5
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q96_pagerank" -> pageRankOracle,
    "q97_weighted_sample" ->
      """WITH h AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(list_sum(list_transform(range(8), i ->
        |      (strpos('0123456789abcdef',
        |         substr(md5(CAST(doc_id AS VARCHAR)), CAST(i+1 AS INT), 1)) - 1)
        |        * 16**(7-i))) AS BIGINT) AS hv
        |  FROM documents
        |), k AS (
        |  -- mirror the operator's contract: NULL ids and NULL /
        |  -- non-positive weights never compete (either would backfill
        |  -- NULL-key rows into an undersubscribed top-k)
        |  SELECT doc_id, lang, n_chars,
        |    ln((CAST(hv AS DOUBLE) + 1.0) / 4294967296.0) / n_chars AS key
        |  FROM h WHERE doc_id IS NOT NULL
        |    AND n_chars IS NOT NULL AND n_chars > 0
        |), top AS (
        |  SELECT doc_id, lang, n_chars FROM k
        |  ORDER BY key DESC, doc_id LIMIT 50
        |)
        |SELECT doc_id, lang, n_chars FROM top ORDER BY doc_id""".stripMargin,
    "q98_peak_concurrency" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(date_trunc('microseconds', ts)) AS tu,
        |    event_id
        |  FROM events
        |), g AS (
        |  SELECT user_id, tu, event_id,
        |    CASE WHEN lag(tu) OVER w IS NULL
        |         OR tu - lag(tu) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)
        |), s AS (
        |  SELECT user_id, tu,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY tu, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g
        |), per AS (
        |  SELECT user_id, sid, MIN(tu) AS st, MAX(tu) AS en
        |  FROM s GROUP BY user_id, sid
        |), b AS (
        |  SELECT st AS t, 1 AS d FROM per
        |  UNION ALL SELECT en, -1 FROM per
        |), r AS (
        |  SELECT t, d, CAST(SUM(d) OVER (ORDER BY t, d DESC
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
        |  FROM b
        |)
        |SELECT CAST(CAST(make_timestamp(t) AS DATE) AS VARCHAR) AS day,
        |  MAX(GREATEST(c, c - d)) AS peak
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q99_percentile_rank" ->
      """SELECT doc_id, lang, n_chars,
        |  percent_rank() OVER w AS pr,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
        |FROM documents
        |WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q101_funnel_sorted" -> funnelOracle,
    "q102_stream_funnel" -> funnelOracle,
    "q103_bpe_merges" -> bpeOracle,
    "q373_unigram_train" -> unigramTrainOracle,
    "q374_unigram_encode" -> unigramEncodeOracle,
    "q380_unigram_ids" -> unigramIdsOracle,
    "q381_pack_unigram" -> unigramPackOracle,
    "q377_logistic_gate" -> logisticGateOracle,
    "q378_sketch_quantiles" -> sketchQuantilesOracle,
    // min-k sketch folds are split-invariant: the monitor's final
    // state IS the batch sketch, readout shared verbatim
    "q379_stream_sketch_quantiles" -> sketchQuantilesOracle,
    "q382_group_sketch_quantiles" -> groupSketchQuantilesOracle,
    // keyed min-k folds are split-invariant per group: the monitor's
    // final state IS the batch state, readout shared verbatim
    "q383_stream_group_sketch_quantiles" -> groupSketchQuantilesOracle,
    "q384_byte_bpe_merges" -> byteBpeOracle,
    "q385_byte_bpe_encode" -> byteBpeEncodeOracle,
    "q386_structural_repetition" ->
      """WITH seg AS (
        |  SELECT doc_id, substring(text, 1, 50) AS a,
        |    substring(text, 51, 50) AS b, substring(text, 101, 50) AS c
        |  FROM documents
        |), d2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN concat_ws(chr(10), a, b, a, c)
        |         WHEN doc_id % 3 = 1 THEN concat_ws(chr(10) || chr(10),
        |           a || chr(10) || b, c, a || chr(10) || b)
        |         ELSE concat_ws(chr(10), a, b, c) END AS t2
        |  FROM seg
        |), u AS (
        |  SELECT doc_id,
        |    list_filter(string_split(t2, chr(10)), x -> len(x) > 0) AS ln,
        |    list_filter(string_split_regex(t2, '\n\n+'), x -> len(x) > 0) AS pg
        |  FROM d2
        |), m AS (
        |  SELECT doc_id, ln, pg,
        |    COALESCE(list_sum(list_transform(ln, x -> len(x))), 0) AS lc,
        |    COALESCE(list_sum(list_transform(list_distinct(ln),
        |      x -> len(x))), 0) AS ldc,
        |    COALESCE(list_sum(list_transform(pg, x -> len(x))), 0) AS pc,
        |    COALESCE(list_sum(list_transform(list_distinct(pg),
        |      x -> len(x))), 0) AS pdc
        |  FROM u
        |)
        |SELECT doc_id,
        |  CAST(len(ln) AS INT) AS n_lines,
        |  CAST(len(list_distinct(ln)) AS INT) AS n_distinct_lines,
        |  CASE WHEN len(ln) = 0 THEN 0.0
        |       ELSE CAST(len(ln) - len(list_distinct(ln)) AS DOUBLE)
        |         / CAST(len(ln) AS DOUBLE) END AS dup_line_frac,
        |  CASE WHEN lc = 0 THEN 0.0
        |       ELSE CAST(lc - ldc AS DOUBLE) / CAST(lc AS DOUBLE) END
        |    AS dup_line_char_frac,
        |  CAST(len(pg) AS INT) AS n_paragraphs,
        |  CAST(len(list_distinct(pg)) AS INT) AS n_distinct_paragraphs,
        |  CASE WHEN len(pg) = 0 THEN 0.0
        |       ELSE CAST(len(pg) - len(list_distinct(pg)) AS DOUBLE)
        |         / CAST(len(pg) AS DOUBLE) END AS dup_paragraph_frac,
        |  CASE WHEN pc = 0 THEN 0.0
        |       ELSE CAST(pc - pdc AS DOUBLE) / CAST(pc AS DOUBLE) END
        |    AS dup_paragraph_char_frac
        |FROM m ORDER BY doc_id""".stripMargin,
    "q387_pack_ffd" -> packFfdOracle,
    "q388_greedy_pack_padding" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS n
        |  FROM documents
        |), o AS (
        |  SELECT doc_id, n,
        |    CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS so
        |  FROM t
        |), a AS (
        |  SELECT doc_id, n, CAST(FLOOR(so / 512.0) AS BIGINT) AS seq_id
        |  FROM o
        |), g AS (
        |  SELECT seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n) AS BIGINT) AS fill
        |  FROM a GROUP BY seq_id
        |)
        |SELECT seq_id, n_docs, fill,
        |  GREATEST(512 - fill, 0) AS padding,
        |  GREATEST(fill - 512, 0) AS overflow,
        |  CAST(GREATEST(512 - fill, 0) AS DOUBLE) / 512.0 AS padding_frac,
        |  CAST(LEAST(fill, 512) AS DOUBLE) / 512.0 AS utilization
        |FROM g ORDER BY seq_id""".stripMargin,
    "q389_exact_substring_spans" -> exactSpansOracle,
    "q390_remove_spans" -> removeSpansOracle,
    "q393_truncation_recall" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id % 101 = 7
        |), c AS (
        |  SELECT vec_id AS cid, embedding AS cv FROM embeddings
        |), sc AS MATERIALIZED (
        |  SELECT qid, cid, d,
        |    CASE WHEN l.nq2 = 0 OR l.nc2 = 0 THEN 0.0
        |         ELSE l.dot / (sqrt(l.nq2) * sqrt(l.nc2)) END AS cos
        |  FROM q, c, (VALUES (8), (16), (32), (64)) b(d),
        |  LATERAL (SELECT
        |    list_sum(list_transform(list_zip(qv[1:d], cv[1:d]),
        |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) AS dot,
        |    list_sum(list_transform(qv[1:d],
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nq2,
        |    list_sum(list_transform(cv[1:d],
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nc2) l
        |  WHERE cid != qid
        |), rk AS (
        |  SELECT qid, cid, d,
        |    row_number() OVER (PARTITION BY qid, d
        |      ORDER BY cos DESC, cid ASC) AS r
        |  FROM sc
        |), top AS MATERIALIZED (
        |  SELECT qid, cid, d FROM rk WHERE r <= 10
        |), hits AS (
        |  SELECT t.d, CAST(COUNT(*) AS BIGINT) AS n_hits
        |  FROM top t JOIN top f
        |    ON f.d = 64 AND f.qid = t.qid AND f.cid = t.cid
        |  WHERE t.d != 64 GROUP BY t.d
        |), nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q)
        |SELECT CAST(b.d AS INT) AS dims_budget, CAST(64 AS INT) AS full_dims,
        |  nq.n AS n_queries, CAST(10 AS INT) AS k,
        |  COALESCE(h.n_hits, 0) AS n_hits,
        |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / (nq.n * 10) AS recall
        |FROM (VALUES (8), (16), (32)) b(d)
        |LEFT JOIN hits h ON h.d = b.d, nq
        |ORDER BY dims_budget""".stripMargin,
    "q394_truncated_rerank" ->
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id % 101 = 7
        |), c AS (
        |  SELECT vec_id AS cid, embedding AS cv FROM embeddings
        |), sc AS MATERIALIZED (
        |  SELECT qid, cid,
        |    CASE WHEN l.np = 0 OR l.ncp = 0 THEN 0.0
        |         ELSE l.dotp / (sqrt(l.np) * sqrt(l.ncp)) END AS cosp,
        |    CASE WHEN l.nf = 0 OR l.ncf = 0 THEN 0.0
        |         ELSE l.dotf / (sqrt(l.nf) * sqrt(l.ncf)) END AS cosf
        |  FROM q, c,
        |  LATERAL (SELECT
        |    list_sum(list_transform(list_zip(qv[1:16], cv[1:16]),
        |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) AS dotp,
        |    list_sum(list_transform(qv[1:16],
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS np,
        |    list_sum(list_transform(cv[1:16],
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS ncp,
        |    list_sum(list_transform(list_zip(qv, cv),
        |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) AS dotf,
        |    list_sum(list_transform(qv,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nf,
        |    list_sum(list_transform(cv,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS ncf) l
        |  WHERE cid != qid
        |), ex AS MATERIALIZED (
        |  SELECT qid, cid FROM (
        |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
        |      ORDER BY cosf DESC, cid ASC) AS r FROM sc)
        |  WHERE r <= 10
        |), s1 AS (
        |  SELECT qid, cid, cosf, row_number() OVER (PARTITION BY qid
        |    ORDER BY cosp DESC, cid ASC) AS pr
        |  FROM sc
        |), fun AS (
        |  SELECT m, qid, cid FROM (
        |    SELECT b.m, s.qid, s.cid,
        |      row_number() OVER (PARTITION BY b.m, s.qid
        |        ORDER BY s.cosf DESC, s.cid ASC) AS fr
        |    FROM s1 s JOIN (VALUES (20), (50), (100)) b(m) ON s.pr <= b.m)
        |  WHERE fr <= 10
        |), hits AS (
        |  SELECT f.m, CAST(COUNT(*) AS BIGINT) AS n_hits
        |  FROM fun f JOIN ex ON ex.qid = f.qid AND ex.cid = f.cid
        |  GROUP BY f.m
        |), nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q)
        |SELECT CAST(16 AS INT) AS prefix_dims, CAST(b.m AS INT) AS m,
        |  CAST(10 AS INT) AS k, nq.n AS n_queries,
        |  COALESCE(h.n_hits, 0) AS n_hits,
        |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / (nq.n * 10) AS recall
        |FROM (VALUES (20), (50), (100)) b(m)
        |LEFT JOIN hits h ON h.m = b.m, nq
        |ORDER BY m""".stripMargin,
    // per-doc verdicts against a static benchmark: micro-batch split
    // provably cannot change the survivor set — batch-semantics oracle
    "q392_stream_exact_substring_gate" -> (exactSpansCte +
      """
        |SELECT t.doc_id, CAST(len(t.toks) AS INT) AS n_tokens
        |FROM tk t
        |WHERE t.doc_id % 7 != 3
        |  AND NOT EXISTS (SELECT 1 FROM spans s WHERE s.right_id = t.doc_id)
        |ORDER BY t.doc_id""".stripMargin),
    "q391_gopher_line_rules" ->
      """WITH seg AS (
        |  SELECT doc_id, substring(text, 1, 50) AS a,
        |    substring(text, 51, 50) AS b, substring(text, 101, 50) AS c
        |  FROM documents
        |), d2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN concat_ws(chr(10), a, b, a, c)
        |         WHEN doc_id % 3 = 1 THEN concat_ws(chr(10) || chr(10),
        |           a || chr(10) || b, c, a || chr(10) || b)
        |         ELSE concat_ws(chr(10), a, b, c) END AS t2
        |  FROM seg
        |), d3 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0
        |           THEN '- ' || replace(t2, chr(10), chr(10) || '- ')
        |         WHEN doc_id % 4 = 1
        |           THEN replace(t2, chr(10), '...' || chr(10)) || '...'
        |         WHEN doc_id % 4 = 2 THEN '# ' || t2
        |         ELSE t2 END AS t3
        |  FROM d2
        |), m AS (
        |  SELECT doc_id, t3,
        |    list_filter(string_split(t3, chr(10)), x -> len(x) > 0) AS ln,
        |    string_split_regex(trim(t3), ' +') AS toks
        |  FROM d3
        |), r AS (
        |  SELECT doc_id,
        |    CAST(len(ln) AS INT) AS n_lines,
        |    CAST(len(list_filter(ln, x -> starts_with(x, '• ')
        |      OR starts_with(x, '- ') OR starts_with(x, '* '))) AS INT)
        |      AS bullets,
        |    CAST(len(list_filter(ln, x -> ends_with(x, '...')
        |      OR ends_with(x, '…'))) AS INT) AS ellipses,
        |    CAST(len(toks) AS INT) AS n_words,
        |    length(t3) - length(replace(t3, '#', '')) AS hashes,
        |    CAST((length(t3) - length(replace(t3, '...', ''))) / 3.0
        |      AS BIGINT) AS dots,
        |    CAST(len(list_filter(toks,
        |      t -> regexp_matches(t, '[A-Za-z]'))) AS INT) AS alpha
        |  FROM m
        |)
        |SELECT doc_id, n_lines,
        |  CASE WHEN n_lines = 0 THEN 0.0
        |       ELSE CAST(bullets AS DOUBLE) / CAST(n_lines AS DOUBLE) END
        |    AS bullet_line_frac,
        |  CASE WHEN n_lines = 0 THEN 0.0
        |       ELSE CAST(ellipses AS DOUBLE) / CAST(n_lines AS DOUBLE) END
        |    AS ellipsis_line_frac,
        |  n_words,
        |  CAST(hashes + dots AS DOUBLE) / CAST(n_words AS DOUBLE)
        |    AS symbol_word_ratio,
        |  CAST(alpha AS DOUBLE) / CAST(n_words AS DOUBLE) AS alpha_word_frac
        |FROM r ORDER BY doc_id""".stripMargin,
    "q105_bpe_encode" -> bpeEncodeOracle,
    "q107_bpe_ids" -> bpeIdsOracle,
    "q108_pack_bpe" -> bpePackOracle,
    "q109_neardup_ledger" ->
      """WITH RECURSIVE tk AS (
        |  SELECT doc_id, source = 'src0' AS s0,
        |    string_split_regex(trim(text), ' +') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, s0,
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |         ELSE list_distinct(list_transform(range(len(toks)-2), i ->
        |           toks[CAST(i+1 AS INT)] || '_' || toks[CAST(i+2 AS INT)]
        |             || '_' || toks[CAST(i+3 AS INT)])) END AS sh
        |  FROM tk
        |), ex AS (
        |  SELECT doc_id, s0, len(sh) AS m, unnest(sh) AS g FROM s
        |), p AS (
        |  -- inverted-index candidates (exact for j >= 0.5 > 0);
        |  -- see componentsOracleCte
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM ex a JOIN ex b
        |    ON a.g = b.g AND b.doc_id > a.doc_id AND a.s0 = b.s0
        |  GROUP BY a.doc_id, b.doc_id, a.m, b.m
        |  HAVING CAST(COUNT(*) AS DOUBLE)
        |      / NULLIF(CAST(a.m + b.m - COUNT(*) AS DOUBLE), 0.0) >= 0.5
        |), sym AS (
        |  SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p
        |), reach AS (
        |  SELECT a AS node, a AS r FROM sym
        |  UNION
        |  SELECT s2.a, r.r FROM sym s2 JOIN reach r ON s2.b = r.node
        |), comp AS (
        |  SELECT node, MIN(r) AS comp FROM reach GROUP BY node
        |), rep AS (
        |  SELECT d.doc_id, d.s0 FROM s d LEFT JOIN comp c ON d.doc_id = c.node
        |  WHERE COALESCE(c.comp, d.doc_id) = d.doc_id
        |), kept0 AS (
        |  SELECT doc_id FROM rep WHERE s0
        |), cont1 AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT a.doc_id
        |    FROM ex a JOIN ex b ON a.g = b.g AND (NOT a.s0) AND b.s0
        |    JOIN kept0 k ON k.doc_id = b.doc_id
        |    GROUP BY a.doc_id, b.doc_id, a.m, b.m
        |    HAVING CAST(COUNT(*) AS DOUBLE)
        |        / NULLIF(CAST(a.m + b.m - COUNT(*) AS DOUBLE), 0.0) >= 0.5)
        |), keep AS (
        |  SELECT doc_id FROM kept0
        |  UNION ALL
        |  SELECT doc_id FROM rep WHERE NOT s0
        |    AND doc_id NOT IN (SELECT doc_id FROM cont1)
        |)
        |SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d JOIN keep USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q106_semantic_dedup" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000*j AS vec_id,
        |    list_transform(list_zip(embedding, range(1, len(embedding)+1)),
        |      z -> CASE WHEN z[2] = j
        |           THEN CAST(z[1] * CAST(2**j AS REAL) AS REAL) ELSE z[1] END)
        |      AS embedding
        |  FROM embeddings CROSS JOIN (SELECT unnest([1,2]) AS j)
        |), n AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM corpus
        |), e AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM n a JOIN n b ON b.vec_id > a.vec_id
        |  WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
        |      / (a.nrm * b.nrm) >= 0.9
        |), sym AS (
        |  SELECT id_a AS a, id_b AS b FROM e
        |  UNION SELECT id_b, id_a FROM e
        |), reach AS (
        |  SELECT a AS node, a AS r FROM sym
        |  UNION
        |  SELECT s2.a, r.r FROM sym s2 JOIN reach r ON s2.b = r.node
        |), comp AS (
        |  SELECT node, MIN(r) AS comp FROM reach GROUP BY node
        |)
        |SELECT c0.vec_id,
        |  COALESCE(cm.comp, c0.vec_id) AS rep_id,
        |  (c0.vec_id = COALESCE(cm.comp, c0.vec_id)) AS kept
        |FROM corpus c0 LEFT JOIN comp cm ON c0.vec_id = cm.node
        |ORDER BY vec_id""".stripMargin,
    "q110_semantic_decontaminate" -> semanticDecontOracle,
    "q173_stream_semantic_gate" -> semanticDecontOracle,
    "q131_incremental_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT) AS ship_month,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price,
        |  MIN(l_discount) AS min_disc,
        |  MAX(l_discount) AS max_disc,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS avg_qty
        |FROM lineitem
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,
    "q154_frame_neardup" ->
      """WITH m0 AS (
        |  SELECT doc_id AS media_id, hex(CAST(text AS BLOB)) AS hx
        |  FROM documents WHERE text IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id + 1000000, '00' || substr(hex(CAST(text AS BLOB)), 3)
        |  FROM documents WHERE text IS NOT NULL
        |), m AS (
        |  SELECT media_id, hx, length(hx)//2 AS len FROM m0
        |), fr AS (
        |  SELECT media_id, GREATEST(len // 8, 1) AS stride, hx FROM m
        |), fx AS (
        |  SELECT media_id,
        |    substr(hx, CAST(i * stride * 2 + 1 AS INT), 32) AS fhx
        |  FROM (SELECT media_id, stride, hx, unnest(range(8)) AS i FROM fr)
        |), fl AS (
        |  SELECT media_id, fhx, length(fhx)//2 AS flen FROM fx
        |), c AS (
        |  SELECT media_id,
        |    list_transform(range(72), g ->
        |      CASE WHEN flen = 0 THEN 0 ELSE
        |        (strpos('0123456789ABCDEF',
        |           substr(fhx, CAST(((g*flen)//72)*2 + 1 AS INT), 1)) - 1) * 16
        |        + (strpos('0123456789ABCDEF',
        |           substr(fhx, CAST(((g*flen)//72)*2 + 2 AS INT), 1)) - 1)
        |      END) AS cell
        |  FROM fl
        |), p AS (
        |  SELECT media_id,
        |    CAST(list_sum(list_transform(range(32), b ->
        |      CASE WHEN cell[((b+32)//8)*9 + ((b+32)%8) + 1]
        |              < cell[((b+32)//8)*9 + ((b+32)%8) + 2]
        |        THEN 2**CAST(b AS INT) ELSE 0 END)) AS BIGINT) AS hi32,
        |    CAST(list_sum(list_transform(range(32), b ->
        |      CASE WHEN cell[(b//8)*9 + (b%8) + 1] < cell[(b//8)*9 + (b%8) + 2]
        |        THEN 2**CAST(b AS INT) ELSE 0 END)) AS BIGINT) AS lo32
        |  FROM c
        |), sg AS (
        |  SELECT DISTINCT media_id,
        |    CASE WHEN hi32 >= 2147483648
        |         THEN (hi32 - 4294967296)*4294967296 + lo32
        |         ELSE hi32*4294967296 + lo32 END AS sig
        |  FROM p
        |), sz AS (
        |  SELECT media_id, COUNT(*) AS n FROM sg GROUP BY media_id
        |), sh AS (
        |  SELECT a.media_id AS id_a, b.media_id AS id_b, COUNT(*) AS ns
        |  FROM sg a JOIN sg b ON a.sig = b.sig AND a.media_id < b.media_id
        |  GROUP BY 1, 2
        |)
        |SELECT sh.id_a, sh.id_b, sh.ns AS n_shared,
        |  za.n AS n_a, zb.n AS n_b,
        |  CAST(sh.ns AS DOUBLE) / CAST(za.n + zb.n - sh.ns AS DOUBLE)
        |    AS jaccard
        |FROM sh
        |JOIN sz za ON sh.id_a = za.media_id
        |JOIN sz zb ON sh.id_b = zb.media_id
        |WHERE CAST(sh.ns AS DOUBLE) / CAST(za.n + zb.n - sh.ns AS DOUBLE)
        |  >= 0.6
        |ORDER BY id_a, id_b""".stripMargin,
    "q155_truncation_dups" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    substr(text, 1, GREATEST(1, CAST(floor(n_chars / 2.0) AS INT)))
        |  FROM documents WHERE text IS NOT NULL
        |)
        |SELECT c.doc_id FROM corpus c
        |WHERE EXISTS (SELECT 1 FROM corpus o
        |  WHERE length(o.text) > length(c.text)
        |    AND substr(o.text, 1, CAST(length(c.text) AS INT)) = c.text)
        |ORDER BY doc_id""".stripMargin,
    "q156_skip_grams" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, CAST(unnest(range(len(toks))) AS INTEGER) AS pos,
        |    unnest(toks) AS tok
        |  FROM tk
        |), fwd AS (
        |  SELECT a.tok AS w_a, b.tok AS w_b
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id
        |    AND b.pos > a.pos AND b.pos <= a.pos + 3
        |), sym AS (
        |  SELECT w_a, w_b FROM fwd
        |  UNION ALL
        |  SELECT w_b AS w_a, w_a AS w_b FROM fwd
        |)
        |SELECT w_a, w_b, COUNT(*) AS n
        |FROM sym GROUP BY w_a, w_b
        |ORDER BY w_a, w_b""".stripMargin,
    "q157_blocklist_gate" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, CAST(unnest(range(len(toks))) AS INTEGER) AS pos,
        |    unnest(toks) AS tok
        |  FROM tk
        |), g1 AS (
        |  SELECT doc_id, tok AS gram FROM t
        |), g2 AS (
        |  SELECT a.doc_id, a.tok || ' ' || b.tok AS gram
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |), cand AS (
        |  SELECT * FROM g1 UNION ALL SELECT * FROM g2
        |), bl(term) AS (
        |  VALUES ('slow'), ('vector'), ('big table'), ('slow fast'),
        |    ('the slow')
        |), h AS (
        |  SELECT doc_id, COUNT(*) AS n_hits,
        |    COUNT(DISTINCT gram) AS n_terms
        |  FROM cand JOIN bl ON cand.gram = bl.term GROUP BY doc_id
        |)
        |SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
        |  COALESCE(h.n_terms, 0) AS n_terms,
        |  COALESCE(h.n_hits, 0) > 4 AS flagged
        |FROM documents d LEFT JOIN h USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q158_entropy_scores" ->
      """WITH e AS (
        |  SELECT doc_id,
        |    ROUND(-list_sum(list_transform(
        |      list_distinct(string_split(text, '')), ch ->
        |        ((length(text) - length(replace(text, ch, '')))
        |          / CAST(length(text) AS DOUBLE))
        |        * log2((length(text) - length(replace(text, ch, '')))
        |          / CAST(length(text) AS DOUBLE)))), 6) AS char_ent6,
        |    ROUND(-list_sum(list_transform(
        |      list_distinct(string_split_regex(trim(text), ' +')), tok ->
        |        (len(list_filter(string_split_regex(trim(text), ' +'),
        |           x -> x = tok))
        |          / CAST(len(string_split_regex(trim(text), ' +')) AS DOUBLE))
        |        * log2(len(list_filter(string_split_regex(trim(text), ' +'),
        |           x -> x = tok))
        |          / CAST(len(string_split_regex(trim(text), ' +')) AS DOUBLE))
        |      )), 6) AS token_ent6
        |  FROM documents
        |)
        |SELECT doc_id, char_ent6, token_ent6,
        |  token_ent6 < 4.4 AS low_diversity
        |FROM e ORDER BY doc_id""".stripMargin,
    "q159_apss_pairs" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' graftzz' FROM documents
        |), tk AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
        |  FROM corpus
        |), g AS (
        |  SELECT doc_id,
        |    array_to_string(toks[CAST(i+1 AS INT):CAST(i+3 AS INT)], ' ')
        |      AS gram
        |  FROM (SELECT doc_id, toks, unnest(range(len(toks)-2)) AS i
        |        FROM tk WHERE len(toks) >= 3)
        |), tf AS (
        |  SELECT doc_id, gram, COUNT(*) AS tf FROM g GROUP BY 1, 2
        |), dfq AS (
        |  SELECT gram, COUNT(*) AS df FROM tf GROUP BY 1
        |), nn AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM corpus
        |), w AS (
        |  SELECT doc_id, tf.gram AS gram,
        |    tf * ln((SELECT n FROM nn) / df) AS w
        |  FROM tf JOIN dfq USING (gram)
        |), nrm AS (
        |  SELECT doc_id, sqrt(SUM(w*w)) AS norm FROM w GROUP BY 1
        |), nw AS (
        |  SELECT w.doc_id, gram, w / norm AS nw
        |  FROM w JOIN nrm USING (doc_id) WHERE norm > 0
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    ROUND(SUM(a.nw * b.nw), 6) AS cos6
        |  FROM nw a JOIN nw b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b, cos6 FROM p WHERE cos6 >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,
    "q160_temporal_split" ->
      """WITH s AS (
        |  SELECT CASE
        |      WHEN epoch_us(ts) < 1705881600000000 - 172800000000
        |        THEN 'train'
        |      WHEN epoch_us(ts) < 1705881600000000 THEN 'embargo'
        |      ELSE 'test' END AS split,
        |    event_type, user_id
        |  FROM events
        |)
        |SELECT split, event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM s GROUP BY split, event_type
        |ORDER BY split, event_type""".stripMargin,
    "q161_contrastive_pairs" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |         ELSE list_distinct(list_transform(range(len(toks)-2), i ->
        |           toks[CAST(i+1 AS INT)] || '_' || toks[CAST(i+2 AS INT)]
        |             || '_' || toks[CAST(i+3 AS INT)])) END AS sh
        |  FROM tk
        |), ex AS (
        |  SELECT doc_id, len(sh) AS m, unnest(sh) AS g FROM s
        |), pos AS (
        |  -- inverted-index candidates (exact for j >= 0.5 > 0);
        |  -- see componentsOracleCte
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM ex a JOIN ex b ON a.g = b.g AND b.doc_id > a.doc_id
        |  GROUP BY a.doc_id, b.doc_id, a.m, b.m
        |  HAVING CAST(COUNT(*) AS DOUBLE)
        |      / NULLIF(CAST(a.m + b.m - COUNT(*) AS DOUBLE), 0.0) >= 0.5
        |), r AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)),
        |      doc_id) - 1 AS r
        |  FROM documents
        |), nn AS (
        |  SELECT COUNT(*) AS n FROM documents
        |), negraw AS (
        |  SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS id_a,
        |    GREATEST(a.doc_id, b.doc_id) AS id_b
        |  FROM r a JOIN r b
        |    ON b.r = (a.r + (SELECT n // 2 FROM nn)) % (SELECT n FROM nn)
        |  WHERE a.doc_id <> b.doc_id
        |), neg AS (
        |  SELECT nr.id_a, nr.id_b FROM negraw nr
        |  LEFT JOIN pos ON nr.id_a = pos.id_a AND nr.id_b = pos.id_b
        |  WHERE pos.id_a IS NULL
        |)
        |SELECT id_a, id_b, 1 AS label FROM pos
        |UNION ALL
        |SELECT id_a, id_b, 0 AS label FROM neg
        |ORDER BY id_a, id_b""".stripMargin,
    "q162_trim_silence" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, text AS s FROM documents
        |  WHERE text IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    repeat(' ', 48) || text || repeat(' ', 48)
        |  FROM documents WHERE text IS NOT NULL
        |), h AS (
        |  SELECT media_id, upper(hex(CAST(s AS BLOB))) AS hx FROM m
        |), f AS (
        |  SELECT media_id, hx,
        |    CAST(ceil((length(hx) / 2) / 16.0) AS BIGINT) AS nf
        |  FROM h
        |), g AS (
        |  SELECT media_id, hx, nf,
        |    list_transform(range(nf), i -> NOT regexp_matches(
        |      substr(hx, CAST(i * 32 + 1 AS INT), 32), '^(20)*$')) AS flags
        |  FROM f
        |), b AS (
        |  SELECT media_id, hx, nf,
        |    list_position(flags, true) AS fa,
        |    nf - list_position(list_reverse(flags), true) + 1 AS la
        |  FROM g
        |)
        |SELECT media_id, nf AS n_frames,
        |  CASE WHEN fa = 0 THEN NULL ELSE CAST(fa - 1 AS BIGINT) END
        |    AS first_frame,
        |  CASE WHEN fa = 0 THEN NULL ELSE CAST(la - 1 AS BIGINT) END
        |    AS last_frame,
        |  md5(CASE WHEN fa = 0 THEN ''
        |       ELSE substr(hx, CAST((fa - 1) * 32 + 1 AS INT),
        |         CAST((la - fa + 1) * 32 AS INT)) END) AS trimmed_md5
        |FROM b ORDER BY media_id""".stripMargin,
    "q163_mask_tokens" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, toks,
        |    list_transform(range(len(toks)), i ->
        |      CAST(list_sum(list_transform(range(8), j ->
        |        (strpos('0123456789abcdef',
        |           substr(md5(CAST(doc_id AS VARCHAR) || '_'
        |             || CAST(i AS VARCHAR)), CAST(j+1 AS INT), 1)) - 1)
        |          * 16**(7-j))) AS BIGINT) % 16 < 2) AS mk
        |  FROM tk
        |)
        |SELECT doc_id,
        |  array_to_string(list_transform(range(len(toks)), i ->
        |    CASE WHEN mk[CAST(i+1 AS INT)] THEN '<mask>'
        |         ELSE toks[CAST(i+1 AS INT)] END), ' ') AS masked_text,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(mk, x -> x)) AS BIGINT) AS n_masked
        |FROM f ORDER BY doc_id""".stripMargin,
    "q164_rank_fusion" ->
      """WITH lex AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(trim(text), ' +'),
        |      x -> x IN ('window', 'merge', 'stream'))) AS DOUBLE) AS s
        |  FROM documents
        |), lexr AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY s DESC, doc_id) AS r
        |  FROM lex WHERE s > 0
        |), q AS (
        |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
        |), sem AS (
        |  SELECT e.vec_id AS doc_id,
        |    ROUND(list_sum(list_transform(list_zip(e.embedding, q.qv),
        |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(q.qv,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS s
        |  FROM embeddings e CROSS JOIN q
        |), semr AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY s DESC, doc_id) AS r
        |  FROM sem
        |), u AS (
        |  SELECT doc_id, 1.0 / (60 + r) AS c FROM lexr
        |  UNION ALL
        |  SELECT doc_id, 1.0 / (60 + r) AS c FROM semr
        |), f AS (
        |  SELECT doc_id, ROUND(SUM(c), 6) AS fused6,
        |    COUNT(*) AS n_lists
        |  FROM u GROUP BY doc_id
        |)
        |SELECT doc_id, fused6, n_lists FROM f
        |ORDER BY fused6 DESC, doc_id LIMIT 50""".stripMargin,
    "q165_auc_by_source" ->
      """WITH tk AS (
        |  SELECT doc_id, (lang = 'en') AS pos,
        |    unnest(string_split_regex(trim(text), ' +')) AS token
        |  FROM documents
        |), cc AS (
        |  SELECT token,
        |    SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cpos,
        |    SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS cneg
        |  FROM tk GROUP BY token
        |), scal AS (
        |  SELECT SUM(cpos) AS totpos, SUM(cneg) AS totneg, COUNT(*) AS v
        |  FROM cc
        |), nd AS (
        |  SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS npos,
        |    COUNT(*) AS ntot
        |  FROM documents
        |), lp AS (
        |  SELECT cc.token,
        |    ln((cc.cpos + 1.0) / (s.totpos + CAST(s.v AS DOUBLE))) AS lppos,
        |    ln((cc.cneg + 1.0) / (s.totneg + CAST(s.v AS DOUBLE))) AS lpneg
        |  FROM cc CROSS JOIN scal s
        |), dtf AS (
        |  SELECT doc_id, token, COUNT(*) AS tf FROM tk GROUP BY doc_id, token
        |), sc AS (
        |  SELECT dtf.doc_id, SUM(dtf.tf * (lp.lppos - lp.lpneg)) AS sd
        |  FROM dtf JOIN lp USING (token) GROUP BY dtf.doc_id
        |), scored AS (
        |  SELECT d.source, (d.lang = 'en') AS label,
        |    ROUND(ln(CAST(nd.npos AS DOUBLE) / CAST(nd.ntot - nd.npos AS DOUBLE))
        |      + COALESCE(sc.sd, 0.0), 6) AS s
        |  FROM documents d CROSS JOIN nd
        |  LEFT JOIN sc ON d.doc_id = sc.doc_id
        |), sg AS (
        |  SELECT source, s, COUNT(*) AS cn,
        |    CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS np
        |  FROM scored GROUP BY source, s
        |), pg AS (
        |  SELECT source, cn, np,
        |    COALESCE(CAST(SUM(cn) OVER (PARTITION BY source ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |      0) AS cb
        |  FROM sg
        |), tot AS (
        |  SELECT source, CAST(SUM(np) AS BIGINT) AS npos,
        |    CAST(SUM(cn - np) AS BIGINT) AS nneg,
        |    CAST(SUM(np * (2 * cb + cn + 1)) AS BIGINT) AS rs2
        |  FROM pg GROUP BY source
        |)
        |SELECT source, npos AS n_pos, nneg AS n_neg,
        |  CASE WHEN npos > 0 AND nneg > 0
        |    THEN CAST(rs2 - npos * (npos + 1) AS DOUBLE)
        |      / CAST(2 * npos * nneg AS DOUBLE) END AS auc
        |FROM tot ORDER BY source""".stripMargin,
    "q167_asof_nearest" ->
      """WITH v AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS t FROM events
        |  WHERE event_type = 'view'
        |), p AS (
        |  SELECT event_id AS pid, user_id, epoch_us(ts) AS pt FROM events
        |  WHERE event_type = 'purchase'
        |), cand AS (
        |  SELECT v.event_id, p.pid, p.pt - v.t AS delta,
        |    row_number() OVER (PARTITION BY v.event_id
        |      ORDER BY abs(p.pt - v.t),
        |        CASE WHEN p.pt <= v.t THEN 0 ELSE 1 END) AS rn
        |  FROM v JOIN p ON v.user_id = p.user_id
        |    AND abs(p.pt - v.t) <= 7200000000
        |)
        |SELECT v.event_id, v.user_id, c.pid AS purchase_id,
        |  c.delta AS delta_us
        |FROM v LEFT JOIN cand c ON v.event_id = c.event_id AND c.rn = 1
        |ORDER BY v.event_id""".stripMargin,
    "q168_langid_audit" ->
      """WITH t AS (
        |  SELECT lang, string_split_regex(trim(text), ' +') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT lang,
        |    len(list_filter(toks, x -> x IN ('the','a','of','and'))) AS s_en,
        |    len(list_filter(toks, x -> x IN ('le','la','et','les'))) AS s_fr,
        |    len(list_filter(toks, x -> x IN ('der','die','und','das'))) AS s_de,
        |    len(list_filter(toks, x -> x IN ('el','los','las','y'))) AS s_es
        |  FROM t
        |), g AS (
        |  SELECT lang, CASE
        |    WHEN s_en = greatest(s_en, s_fr, s_de, s_es) AND s_en > 0 THEN 'en'
        |    WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) AND s_fr > 0 THEN 'fr'
        |    WHEN s_de = greatest(s_en, s_fr, s_de, s_es) AND s_de > 0 THEN 'de'
        |    WHEN s_es = greatest(s_en, s_fr, s_de, s_es) AND s_es > 0 THEN 'es'
        |    ELSE 'und' END AS predicted
        |  FROM s
        |), cells AS (
        |  SELECT lang, predicted, COUNT(*) AS n FROM g GROUP BY 1, 2
        |), tot AS (
        |  SELECT lang, COUNT(*) AS n_lang FROM g GROUP BY 1
        |)
        |SELECT c.lang, c.predicted, c.n, t.n_lang,
        |  CAST(c.n AS DOUBLE) / CAST(t.n_lang AS DOUBLE) AS share
        |FROM cells c JOIN tot t USING (lang)
        |ORDER BY lang, predicted""".stripMargin,
    "q170_skew_plan" ->
      """WITH ev AS (
        |  SELECT event_id, user_id FROM events
        |  UNION ALL
        |  SELECT e.event_id, e.user_id
        |  FROM events e CROSS JOIN (SELECT UNNEST(range(19)) AS k)
        |  WHERE e.user_id % 37 = 0
        |), k AS (
        |  SELECT user_id, COUNT(*) AS n FROM ev GROUP BY 1
        |), t AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS nk FROM k
        |), m AS (
        |  SELECT GREATEST(CAST(1 AS BIGINT), total // nk) AS mean_n FROM t
        |)
        |SELECT k.user_id, k.n, m.mean_n,
        |  CAST((k.n + 2 * m.mean_n - 1) // (2 * m.mean_n) AS INTEGER)
        |    AS salt_factor
        |FROM k CROSS JOIN m
        |WHERE k.n > 4 * m.mean_n
        |ORDER BY user_id""".stripMargin,
    "q171_boilerplate_lines" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    'subscribe to ' || source || ' newsletter today' || chr(10) ||
        |    'ok' || chr(10) || text || chr(10) ||
        |    'all rights reserved worldwide' AS text
        |  FROM documents WHERE text IS NOT NULL
        |), ln AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS lines FROM d
        |), cand AS (
        |  SELECT DISTINCT doc_id, trim(line) AS t
        |  FROM (SELECT doc_id, UNNEST(lines) AS line FROM ln)
        |  WHERE length(trim(line)) >= 5
        |), boiler AS (
        |  SELECT t FROM cand GROUP BY t HAVING COUNT(*) >= 3
        |), pos AS (
        |  SELECT doc_id, UNNEST(range(len(lines))) AS p,
        |    UNNEST(lines) AS line
        |  FROM ln
        |), kept AS (
        |  SELECT p.doc_id,
        |    string_agg(p.line, chr(10) ORDER BY p.p) AS cleaned_text,
        |    COUNT(*) AS n_kept
        |  FROM pos p LEFT JOIN boiler b ON trim(p.line) = b.t
        |  WHERE length(trim(p.line)) < 5 OR b.t IS NULL
        |  GROUP BY p.doc_id
        |)
        |SELECT ln.doc_id,
        |  CAST(len(ln.lines) AS INTEGER) AS n_lines,
        |  CAST(len(ln.lines) - COALESCE(k.n_kept, 0) AS INTEGER) AS n_removed,
        |  COALESCE(k.cleaned_text, '') AS cleaned_text
        |FROM ln LEFT JOIN kept k ON ln.doc_id = k.doc_id
        |ORDER BY ln.doc_id""".stripMargin,
    "q182_multiclass_nb" ->
      """WITH train AS (
        |  SELECT doc_id, text, lang AS cls FROM documents
        |  WHERE doc_id % 2 = 0
        |), test AS (
        |  SELECT doc_id, text, lang AS gold FROM documents
        |  WHERE doc_id % 2 = 1
        |), tc AS (
        |  SELECT cls, unnest(string_split_regex(trim(text), ' +')) AS token
        |  FROM train
        |), cnt AS (
        |  SELECT token, cls, COUNT(*) AS cnt FROM tc GROUP BY 1, 2
        |), vsz AS (
        |  SELECT COUNT(DISTINCT token) AS v FROM cnt
        |), ctot AS (
        |  SELECT cls, CAST(SUM(cnt) AS BIGINT) AS tot FROM cnt GROUP BY 1
        |), grid AS (
        |  SELECT t.token, c.cls, c.tot
        |  FROM (SELECT DISTINCT token FROM cnt) t CROSS JOIN ctot c
        |), lp AS (
        |  SELECT g.token, g.cls,
        |    ln((COALESCE(cnt.cnt, 0) + 1.0) /
        |       (g.tot + CAST(vsz.v AS DOUBLE))) AS lp
        |  FROM grid g CROSS JOIN vsz
        |  LEFT JOIN cnt ON g.token = cnt.token AND g.cls = cnt.cls
        |), cls AS (
        |  SELECT ct.cls,
        |    ln(CAST(dc.n_docs AS DOUBLE) /
        |       (SELECT COUNT(*) FROM train)) AS log_prior,
        |    ln(1.0 / (ct.tot + CAST(vsz.v AS DOUBLE))) AS flr
        |  FROM ctot ct CROSS JOIN vsz
        |  JOIN (SELECT cls, COUNT(*) AS n_docs FROM train GROUP BY 1) dc
        |    USING (cls)
        |), dtf AS (
        |  SELECT doc_id, token, COUNT(*) AS tf
        |  FROM (SELECT doc_id,
        |      unnest(string_split_regex(trim(text), ' +')) AS token
        |    FROM test)
        |  GROUP BY 1, 2
        |), seen AS (
        |  SELECT dtf.doc_id, lp.cls, SUM(dtf.tf * lp.lp) AS s
        |  FROM dtf JOIN lp USING (token) GROUP BY 1, 2
        |), nu AS (
        |  SELECT dtf.doc_id, CAST(SUM(dtf.tf) AS BIGINT) AS nu
        |  FROM dtf
        |  WHERE dtf.token NOT IN (SELECT DISTINCT token FROM cnt)
        |  GROUP BY 1
        |), pc AS (
        |  SELECT t.doc_id, c.cls,
        |    ROUND(c.log_prior + COALESCE(seen.s, 0.0)
        |      + COALESCE(nu.nu, 0) * c.flr, 6) AS score6
        |  FROM test t CROSS JOIN cls c
        |  LEFT JOIN seen ON t.doc_id = seen.doc_id AND c.cls = seen.cls
        |  LEFT JOIN nu ON t.doc_id = nu.doc_id
        |), pred AS (
        |  SELECT doc_id, cls AS predicted FROM (
        |    SELECT doc_id, cls,
        |      row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score6 DESC, cls) AS rn
        |    FROM pc) WHERE rn = 1
        |), cells AS (
        |  SELECT t.gold, p.predicted, COUNT(*) AS n
        |  FROM test t JOIN pred p USING (doc_id) GROUP BY 1, 2
        |), bg AS (
        |  SELECT gold AS cls, CAST(SUM(n) AS BIGINT) AS n_gold,
        |    CAST(SUM(CASE WHEN predicted = gold THEN n ELSE 0 END)
        |      AS BIGINT) AS tp
        |  FROM cells GROUP BY 1
        |), bp AS (
        |  SELECT predicted AS cls, CAST(SUM(n) AS BIGINT) AS n_pred
        |  FROM cells GROUP BY 1
        |)
        |SELECT COALESCE(bg.cls, bp.cls) AS cls,
        |  COALESCE(bg.tp, 0) AS tp,
        |  COALESCE(bp.n_pred, 0) - COALESCE(bg.tp, 0) AS fp,
        |  COALESCE(bg.n_gold, 0) - COALESCE(bg.tp, 0) AS fn,
        |  CASE WHEN 2 * COALESCE(bg.tp, 0) + (COALESCE(bp.n_pred, 0)
        |         - COALESCE(bg.tp, 0)) + (COALESCE(bg.n_gold, 0)
        |         - COALESCE(bg.tp, 0)) > 0
        |    THEN ROUND(2.0 * COALESCE(bg.tp, 0) /
        |      CAST(2 * COALESCE(bg.tp, 0) + (COALESCE(bp.n_pred, 0)
        |        - COALESCE(bg.tp, 0)) + (COALESCE(bg.n_gold, 0)
        |        - COALESCE(bg.tp, 0)) AS DOUBLE), 6)
        |  END AS f16
        |FROM bg FULL OUTER JOIN bp ON bg.cls = bp.cls
        |ORDER BY cls""".stripMargin,
    "q181_conformal_gate" ->
      """WITH cal AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value)
        |      AS rn
        |  FROM events
        |  WHERE epoch_us(ts) < 1705363200000000 AND value IS NOT NULL
        |), sz AS (
        |  SELECT event_type, COUNT(*) AS n_cal,
        |    CAST(CEIL((COUNT(*) + 1) * 0.9 - 1e-9) AS BIGINT) AS k_rank
        |  FROM cal GROUP BY event_type
        |), thr AS (
        |  SELECT sz.event_type, sz.n_cal, sz.k_rank, cal.value AS threshold
        |  FROM sz LEFT JOIN cal
        |    ON sz.event_type = cal.event_type AND cal.rn = sz.k_rank
        |), fl AS (
        |  SELECT e.event_type, COUNT(*) AS n_test,
        |    CAST(SUM(CASE WHEN e.value > t.threshold THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_flagged
        |  FROM events e JOIN thr t USING (event_type)
        |  WHERE epoch_us(e.ts) >= 1705363200000000
        |  GROUP BY e.event_type
        |)
        |SELECT t.event_type, t.n_cal, t.k_rank, t.threshold,
        |  f.n_test, f.n_flagged
        |FROM thr t JOIN fl f USING (event_type)
        |ORDER BY t.event_type""".stripMargin,
    "q179_robust_outliers" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY event_type
        |), mad AS (
        |  SELECT e.event_type,
        |    quantile_cont(abs(e.value - m.med), 0.5) AS mad
        |  FROM events e JOIN med m USING (event_type)
        |  GROUP BY e.event_type
        |), b AS (
        |  SELECT med.event_type,
        |    ROUND(med.med - 3.5 / 0.6745 * mad.mad, 6) AS lo_fence,
        |    ROUND(med.med + 3.5 / 0.6745 * mad.mad, 6) AS hi_fence
        |  FROM med JOIN mad USING (event_type)
        |)
        |SELECT e.event_type, COUNT(*) AS n,
        |  MIN(b.lo_fence) AS lo_fence, MIN(b.hi_fence) AS hi_fence,
        |  CAST(SUM(CASE WHEN e.value < b.lo_fence OR e.value > b.hi_fence
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM events e JOIN b USING (event_type)
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin,
    "q180_categorical_drift" -> categoricalDriftOracle,
    "q183_stream_cat_drift" -> categoricalDriftOracle,
    "q177_join_explosion" ->
      """WITH lc AS (
        |  SELECT lang, COUNT(*) AS n_left FROM documents GROUP BY 1
        |), rc AS (
        |  SELECT lang, COUNT(*) AS n_right FROM documents GROUP BY 1
        |), pk AS (
        |  SELECT lc.lang, lc.n_left, rc.n_right,
        |    lc.n_left * rc.n_right AS out_rows
        |  FROM lc JOIN rc USING (lang)
        |), t AS (
        |  SELECT CAST(SUM(out_rows) AS BIGINT) AS total FROM pk
        |)
        |SELECT pk.lang, pk.n_left, pk.n_right,
        |  CAST(pk.out_rows AS BIGINT) AS out_rows,
        |  ROUND(CAST(pk.out_rows AS DOUBLE) / CAST(t.total AS DOUBLE), 6)
        |    AS share6
        |FROM pk CROSS JOIN t
        |ORDER BY out_rows DESC, lang LIMIT 5""".stripMargin,
    "q178_label_errors" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    ((len(list_filter(string_split_regex(trim(text), ' +'),
        |        x -> x = 'fast')) >
        |      len(list_filter(string_split_regex(trim(text), ' +'),
        |        x -> x = 'slow'))) != (doc_id % 23 = 0)) AS label,
        |    CAST(doc_id % 2 AS INTEGER) AS fold
        |  FROM documents
        |), tk1 AS (
        |  SELECT doc_id, label AS pos,
        |    unnest(string_split_regex(trim(text), ' +')) AS token
        |  FROM base WHERE fold = 1
        |), cc1 AS (
        |  SELECT token,
        |    SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cpos,
        |    SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS cneg
        |  FROM tk1 GROUP BY token
        |), s1 AS (
        |  SELECT SUM(cpos) AS totpos, SUM(cneg) AS totneg, COUNT(*) AS v
        |  FROM cc1
        |), n1 AS (
        |  SELECT SUM(CASE WHEN label THEN 1 ELSE 0 END) AS npos,
        |    COUNT(*) AS ntot
        |  FROM base WHERE fold = 1
        |), lp1 AS (
        |  SELECT cc1.token,
        |    ln((cc1.cpos + 1.0) / (s.totpos + CAST(s.v AS DOUBLE))) AS lppos,
        |    ln((cc1.cneg + 1.0) / (s.totneg + CAST(s.v AS DOUBLE))) AS lpneg
        |  FROM cc1 CROSS JOIN s1 s
        |), dtf0 AS (
        |  SELECT doc_id, token, COUNT(*) AS tf
        |  FROM (SELECT doc_id,
        |      unnest(string_split_regex(trim(text), ' +')) AS token
        |    FROM base WHERE fold = 0)
        |  GROUP BY doc_id, token
        |), sc0 AS (
        |  SELECT dtf0.doc_id,
        |    (SELECT ln(CAST(npos AS DOUBLE) / CAST(ntot - npos AS DOUBLE))
        |       FROM n1) +
        |    SUM(dtf0.tf * (
        |      COALESCE(lp1.lppos,
        |        (SELECT ln(1.0 / (totpos + CAST(v AS DOUBLE))) FROM s1)) -
        |      COALESCE(lp1.lpneg,
        |        (SELECT ln(1.0 / (totneg + CAST(v AS DOUBLE))) FROM s1))))
        |      AS lo
        |  FROM dtf0 LEFT JOIN lp1 USING (token) GROUP BY dtf0.doc_id
        |), tk0 AS (
        |  SELECT doc_id, label AS pos,
        |    unnest(string_split_regex(trim(text), ' +')) AS token
        |  FROM base WHERE fold = 0
        |), cc0 AS (
        |  SELECT token,
        |    SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cpos,
        |    SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS cneg
        |  FROM tk0 GROUP BY token
        |), s0 AS (
        |  SELECT SUM(cpos) AS totpos, SUM(cneg) AS totneg, COUNT(*) AS v
        |  FROM cc0
        |), n0 AS (
        |  SELECT SUM(CASE WHEN label THEN 1 ELSE 0 END) AS npos,
        |    COUNT(*) AS ntot
        |  FROM base WHERE fold = 0
        |), lp0 AS (
        |  SELECT cc0.token,
        |    ln((cc0.cpos + 1.0) / (s.totpos + CAST(s.v AS DOUBLE))) AS lppos,
        |    ln((cc0.cneg + 1.0) / (s.totneg + CAST(s.v AS DOUBLE))) AS lpneg
        |  FROM cc0 CROSS JOIN s0 s
        |), dtf1 AS (
        |  SELECT doc_id, token, COUNT(*) AS tf
        |  FROM (SELECT doc_id,
        |      unnest(string_split_regex(trim(text), ' +')) AS token
        |    FROM base WHERE fold = 1)
        |  GROUP BY doc_id, token
        |), sc1 AS (
        |  SELECT dtf1.doc_id,
        |    (SELECT ln(CAST(npos AS DOUBLE) / CAST(ntot - npos AS DOUBLE))
        |       FROM n0) +
        |    SUM(dtf1.tf * (
        |      COALESCE(lp0.lppos,
        |        (SELECT ln(1.0 / (totpos + CAST(v AS DOUBLE))) FROM s0)) -
        |      COALESCE(lp0.lpneg,
        |        (SELECT ln(1.0 / (totneg + CAST(v AS DOUBLE))) FROM s0))))
        |      AS lo
        |  FROM dtf1 LEFT JOIN lp0 USING (token) GROUP BY dtf1.doc_id
        |), sc AS (
        |  SELECT * FROM sc0 UNION ALL SELECT * FROM sc1
        |)
        |SELECT b.doc_id, b.label, b.fold,
        |  ROUND(sc.lo, 6) AS log_odds6,
        |  (((ROUND(sc.lo, 6) > 0) != b.label)
        |    AND abs(ROUND(sc.lo, 6)) >= 2.0) AS mislabel_flag
        |FROM base b JOIN sc ON b.doc_id = sc.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    "q175_cohen_kappa" ->
      """WITH t AS (
        |  SELECT lang, string_split_regex(trim(text), ' +') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT lang,
        |    len(list_filter(toks, x -> x IN ('the','a','of','and'))) AS s_en,
        |    len(list_filter(toks, x -> x IN ('le','la','et','les'))) AS s_fr,
        |    len(list_filter(toks, x -> x IN ('der','die','und','das'))) AS s_de,
        |    len(list_filter(toks, x -> x IN ('el','los','las','y'))) AS s_es
        |  FROM t
        |), g AS (
        |  SELECT lang, CASE
        |    WHEN s_en = greatest(s_en, s_fr, s_de, s_es) AND s_en > 0 THEN 'en'
        |    WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) AND s_fr > 0 THEN 'fr'
        |    WHEN s_de = greatest(s_en, s_fr, s_de, s_es) AND s_de > 0 THEN 'de'
        |    WHEN s_es = greatest(s_en, s_fr, s_de, s_es) AND s_es > 0 THEN 'es'
        |    ELSE 'und' END AS predicted
        |  FROM s WHERE lang IS NOT NULL
        |), c AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(COUNT(*) FILTER (WHERE lang = predicted) AS BIGINT) AS agree
        |  FROM g
        |), rm AS (SELECT lang AS k, COUNT(*) AS ra FROM g GROUP BY 1),
        |cm AS (SELECT predicted AS k, COUNT(*) AS cb FROM g GROUP BY 1),
        |pe AS (
        |  SELECT COALESCE(CAST(SUM(rm.ra * cm.cb) AS HUGEINT), 0) AS p
        |  FROM rm JOIN cm USING (k)
        |)
        |SELECT c.n, c.agree AS n_agree,
        |  ROUND(CAST(c.n * c.agree - pe.p AS DOUBLE) /
        |        CAST(c.n * c.n - pe.p AS DOUBLE), 6) AS kappa6
        |FROM c, pe""".stripMargin,
    "q176_shard_manifest" ->
      """WITH p AS (
        |  SELECT doc_id, text,
        |    row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
        |      - 1 AS pos
        |  FROM documents
        |), d AS (
        |  SELECT CAST(pos % 8 AS INTEGER) AS shard,
        |    CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT)
        |      AS n_toks
        |  FROM p
        |), r AS (
        |  SELECT shard, COUNT(*) AS n_docs,
        |    CAST(SUM(n_toks) AS BIGINT) AS n_tokens
        |  FROM d GROUP BY 1
        |)
        |SELECT shard, n_docs, n_tokens,
        |  COALESCE(CAST(SUM(n_tokens) OVER (ORDER BY shard
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    AS BIGINT), 0) AS token_offset
        |FROM r ORDER BY shard""".stripMargin,
    "q174_compaction_plan" ->
      """WITH m AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS path, n_chars AS bytes
        |  FROM documents
        |  UNION ALL
        |  SELECT 'big/' || CAST(doc_id AS VARCHAR), n_chars * 100
        |  FROM documents WHERE doc_id % 97 = 0
        |), small AS (
        |  SELECT path, bytes,
        |    COALESCE(CAST(SUM(bytes) OVER (ORDER BY bytes DESC, path
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS rt
        |  FROM m WHERE bytes < 5000
        |)
        |SELECT m.path, m.bytes,
        |  CASE WHEN m.bytes >= 5000 THEN NULL
        |       ELSE s.rt // 10000 END AS bin
        |FROM m LEFT JOIN small s ON m.path = s.path
        |ORDER BY m.path""".stripMargin,
    "q172_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    string_split_regex(trim(text), ' +') AS toks
        |  FROM documents
        |), b AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) /
        |      CAST(len(toks) AS DOUBLE) AS score,
        |    CAST(len(toks) AS BIGINT) AS n_tokens
        |  FROM t WHERE len(toks) > 0
        |), c AS (
        |  SELECT source, doc_id, score, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY source
        |      ORDER BY score DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tokens
        |  FROM b
        |)
        |SELECT source, doc_id, score, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 600
        |ORDER BY source, doc_id""".stripMargin,
    "q153_stream_left_outer_join" ->
      """WITH l AS (
        |  SELECT event_id AS id_a, user_id, epoch_us(ts) AS t
        |  FROM events WHERE event_type = 'view'
        |), r AS (
        |  SELECT event_id AS id_b, user_id, epoch_us(ts) AS t
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT l.user_id, l.id_a, r.id_b,
        |  r.id_b IS NOT NULL AS matched
        |FROM l LEFT JOIN r ON l.user_id = r.user_id
        |  AND r.t >= l.t AND r.t <= l.t + 7200000000
        |ORDER BY l.user_id, l.id_a, r.id_b NULLS FIRST""".stripMargin,
    "q151_federated_concat" ->
      """WITH u AS (
        |  SELECT 'pq' AS src, n_nationkey, n_name, n_regionkey FROM nation
        |  UNION ALL
        |  SELECT 'csv' AS src, CAST(n_nationkey AS BIGINT), n_name,
        |    CAST(n_regionkey AS INT) FROM nation
        |  UNION ALL
        |  SELECT 'orc' AS src, n_nationkey, n_name,
        |    CAST(NULL AS INT) FROM nation
        |)
        |SELECT src, COUNT(*) AS n_nations,
        |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_keys,
        |  CAST(SUM(CASE WHEN n_regionkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_null_region,
        |  MIN(n_name) AS min_name
        |FROM u GROUP BY src
        |ORDER BY src""".stripMargin,
    "q152_mom_growth" ->
      """WITH m AS (
        |  SELECT c.c_mktsegment,
        |    CAST(year(o.o_orderdate) * 100 + month(o.o_orderdate) AS INT)
        |      AS ym,
        |    SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2
        |), g AS (
        |  SELECT c_mktsegment, ym, CAST(rev AS DOUBLE) AS revenue,
        |    CAST(lag(rev) OVER (PARTITION BY c_mktsegment ORDER BY ym)
        |      AS DOUBLE) AS prev
        |  FROM m
        |)
        |SELECT c_mktsegment, ym, revenue,
        |  ROUND((revenue - prev) / prev * 100.0, 6) AS mom_pct
        |FROM g
        |ORDER BY c_mktsegment, ym""".stripMargin,
    "q150_cross_source_dup" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
        |  FROM documents
        |), sgl AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |         ELSE list_distinct(list_transform(range(len(toks)-2), i ->
        |           toks[CAST(i+1 AS INT)] || '_' || toks[CAST(i+2 AS INT)]
        |             || '_' || toks[CAST(i+3 AS INT)])) END AS sh
        |  FROM tk
        |), ex AS (
        |  SELECT doc_id, len(sh) AS m, unnest(sh) AS g FROM sgl
        |), p AS (
        |  -- inverted-index candidates (exact for j >= 0.5 > 0);
        |  -- see componentsOracleCte
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM ex a JOIN ex b ON a.g = b.g AND b.doc_id > a.doc_id
        |  GROUP BY a.doc_id, b.doc_id, a.m, b.m
        |  HAVING CAST(COUNT(*) AS DOUBLE)
        |      / NULLIF(CAST(a.m + b.m - COUNT(*) AS DOUBLE), 0.0) >= 0.5
        |), m AS (
        |  SELECT LEAST(sa.source, sb.source) AS source_lo,
        |    GREATEST(sa.source, sb.source) AS source_hi
        |  FROM p
        |  JOIN documents sa ON p.id_a = sa.doc_id
        |  JOIN documents sb ON p.id_b = sb.doc_id
        |)
        |SELECT source_lo, source_hi, COUNT(*) AS n_pairs,
        |  source_lo <> source_hi AS cross_source
        |FROM m GROUP BY source_lo, source_hi
        |ORDER BY source_lo, source_hi""".stripMargin,
    "q148_pr_curve" ->
      """WITH tk AS (
        |  SELECT doc_id, (lang = 'en') AS pos,
        |    unnest(string_split_regex(trim(text), ' +')) AS token
        |  FROM documents
        |), cc AS (
        |  SELECT token,
        |    SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cpos,
        |    SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS cneg
        |  FROM tk GROUP BY token
        |), scal AS (
        |  SELECT SUM(cpos) AS totpos, SUM(cneg) AS totneg, COUNT(*) AS v
        |  FROM cc
        |), nd AS (
        |  SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS npos,
        |    COUNT(*) AS ntot
        |  FROM documents
        |), lp AS (
        |  SELECT cc.token,
        |    ln((cc.cpos + 1.0) / (s.totpos + CAST(s.v AS DOUBLE))) AS lppos,
        |    ln((cc.cneg + 1.0) / (s.totneg + CAST(s.v AS DOUBLE))) AS lpneg
        |  FROM cc CROSS JOIN scal s
        |), dtf AS (
        |  SELECT doc_id, token, COUNT(*) AS tf FROM tk GROUP BY doc_id, token
        |), sc AS (
        |  SELECT dtf.doc_id, SUM(dtf.tf * (lp.lppos - lp.lpneg)) AS sd
        |  FROM dtf JOIN lp USING (token) GROUP BY dtf.doc_id
        |), scored AS (
        |  SELECT d.doc_id, (d.lang = 'en') AS label,
        |    ROUND(ln(CAST(nd.npos AS DOUBLE) / CAST(nd.ntot - nd.npos AS DOUBLE))
        |      + COALESCE(sc.sd, 0.0), 6) AS s
        |  FROM documents d CROSS JOIN nd
        |  LEFT JOIN sc ON d.doc_id = sc.doc_id
        |), tg AS (
        |  SELECT UNNEST(CAST([-5.0, -2.0, -1.0, 0.0, 1.0, 2.0, 5.0]
        |    AS DOUBLE[])) AS th
        |), cm AS (
        |  SELECT tg.th,
        |    CAST(SUM(CASE WHEN label AND s > tg.th THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN NOT label AND s > tg.th THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN label AND NOT (s > tg.th) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS fn,
        |    CAST(SUM(CASE WHEN NOT label AND NOT (s > tg.th) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tn
        |  FROM scored CROSS JOIN tg GROUP BY tg.th
        |)
        |SELECT th AS threshold, tp, fp, fn, tn,
        |  CASE WHEN tp + fp <> 0
        |    THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
        |  CASE WHEN tp + fn <> 0
        |    THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall
        |FROM cm
        |ORDER BY threshold""".stripMargin,
    "q149_lift_table" ->
      """WITH tk AS (
        |  SELECT doc_id, (lang = 'en') AS pos,
        |    unnest(string_split_regex(trim(text), ' +')) AS token
        |  FROM documents
        |), cc AS (
        |  SELECT token,
        |    SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cpos,
        |    SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS cneg
        |  FROM tk GROUP BY token
        |), scal AS (
        |  SELECT SUM(cpos) AS totpos, SUM(cneg) AS totneg, COUNT(*) AS v
        |  FROM cc
        |), nd AS (
        |  SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS npos,
        |    COUNT(*) AS ntot
        |  FROM documents
        |), lp AS (
        |  SELECT cc.token,
        |    ln((cc.cpos + 1.0) / (s.totpos + CAST(s.v AS DOUBLE))) AS lppos,
        |    ln((cc.cneg + 1.0) / (s.totneg + CAST(s.v AS DOUBLE))) AS lpneg
        |  FROM cc CROSS JOIN scal s
        |), dtf AS (
        |  SELECT doc_id, token, COUNT(*) AS tf FROM tk GROUP BY doc_id, token
        |), sc AS (
        |  SELECT dtf.doc_id, SUM(dtf.tf * (lp.lppos - lp.lpneg)) AS sd
        |  FROM dtf JOIN lp USING (token) GROUP BY dtf.doc_id
        |), scored AS (
        |  SELECT d.doc_id, (d.lang = 'en') AS label,
        |    ROUND(ln(CAST(nd.npos AS DOUBLE) / CAST(nd.ntot - nd.npos AS DOUBLE))
        |      + COALESCE(sc.sd, 0.0), 6) AS s
        |  FROM documents d CROSS JOIN nd
        |  LEFT JOIN sc ON d.doc_id = sc.doc_id
        |), rk AS (
        |  SELECT label,
        |    row_number() OVER (ORDER BY s DESC, doc_id) - 1 AS r
        |  FROM scored
        |), tot AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS np
        |  FROM rk
        |), bk AS (
        |  SELECT CAST((r * 10) // tot.n AS INT) AS bucket, label
        |  FROM rk CROSS JOIN tot
        |)
        |SELECT bk.bucket, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN bk.label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(SUM(CASE WHEN bk.label THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS pos_rate,
        |  CASE WHEN tot.np > 0 THEN
        |    (CAST(SUM(CASE WHEN bk.label THEN 1 ELSE 0 END) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE))
        |    / (CAST(tot.np AS DOUBLE) / CAST(tot.n AS DOUBLE)) END AS lift
        |FROM bk CROSS JOIN tot
        |GROUP BY bk.bucket, tot.n, tot.np
        |ORDER BY bk.bucket""".stripMargin,
    "q145_vocab_coverage" ->
      """WITH tk AS (
        |  SELECT unnest(string_split_regex(trim(text), ' +')) AS token
        |  FROM documents
        |), fr AS (
        |  SELECT token, COUNT(*) AS freq FROM tk GROUP BY token
        |), tot AS (
        |  SELECT CAST(SUM(freq) AS BIGINT) AS n FROM fr
        |), pre AS (
        |  SELECT freq, COALESCE(CAST(SUM(freq) OVER (
        |      ORDER BY freq DESC, token
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |    0) AS cb
        |  FROM fr
        |), tg AS (
        |  SELECT UNNEST(CAST([0.25, 0.5, 0.75, 0.9, 0.99, 1.0] AS DOUBLE[])) AS target
        |)
        |SELECT tg.target,
        |  CAST(SUM(CASE WHEN CAST(pre.cb AS DOUBLE)
        |    < tg.target * CAST(tot.n AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS vocab_size,
        |  tot.n AS total_tokens
        |FROM tg CROSS JOIN tot CROSS JOIN pre
        |GROUP BY tg.target, tot.n
        |ORDER BY tg.target""".stripMargin,
    "q146_referential_integrity" ->
      """WITH torn AS (
        |  SELECT CASE WHEN o_orderkey % 89 = 0 THEN NULL
        |              WHEN o_orderkey % 97 = 0 THEN o_custkey + 1000000000
        |              ELSE o_custkey END AS cust_ref
        |  FROM orders
        |), r1 AS (
        |  SELECT 'lineitem->orders' AS relation,
        |    COUNT(*) AS n_child,
        |    CAST(SUM(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_null_keys,
        |    CAST(SUM(CASE WHEN l.l_orderkey IS NOT NULL
        |      AND o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_orphans,
        |    CAST(COUNT(DISTINCT CASE WHEN l.l_orderkey IS NOT NULL
        |      AND o.o_orderkey IS NULL THEN l.l_orderkey END) AS BIGINT)
        |      AS n_orphan_keys
        |  FROM lineitem l
        |  LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON l.l_orderkey = o.o_orderkey
        |), r2 AS (
        |  SELECT 'orders->customer' AS relation,
        |    COUNT(*) AS n_child,
        |    CAST(SUM(CASE WHEN t.cust_ref IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_null_keys,
        |    CAST(SUM(CASE WHEN t.cust_ref IS NOT NULL
        |      AND c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_orphans,
        |    CAST(COUNT(DISTINCT CASE WHEN t.cust_ref IS NOT NULL
        |      AND c.c_custkey IS NULL THEN t.cust_ref END) AS BIGINT)
        |      AS n_orphan_keys
        |  FROM torn t
        |  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON t.cust_ref = c.c_custkey
        |)
        |SELECT relation, n_child, n_null_keys, n_orphans, n_orphan_keys,
        |  CAST(n_orphans AS DOUBLE) / CAST(n_child AS DOUBLE) AS orphan_rate
        |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
        |ORDER BY relation""".stripMargin,
    "q147_iqr_outliers" ->
      """WITH b AS (
        |  SELECT event_type,
        |    ROUND(quantile_cont(value, 0.25)
        |      - 1.5 * (quantile_cont(value, 0.75)
        |        - quantile_cont(value, 0.25)), 6) AS lo_fence,
        |    ROUND(quantile_cont(value, 0.75)
        |      + 1.5 * (quantile_cont(value, 0.75)
        |        - quantile_cont(value, 0.25)), 6) AS hi_fence
        |  FROM events GROUP BY event_type
        |)
        |SELECT e.event_type, COUNT(*) AS n,
        |  MIN(b.lo_fence) AS lo_fence, MIN(b.hi_fence) AS hi_fence,
        |  CAST(SUM(CASE WHEN e.value < b.lo_fence OR e.value > b.hi_fence
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM events e JOIN b ON e.event_type = b.event_type
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin,
    "q143_csv_quarantine" ->
      """SELECT kind, n, sample FROM (
        |  SELECT 'good' AS kind, COUNT(*) AS n, MIN(n_name) AS sample
        |  FROM nation
        |  UNION ALL
        |  SELECT 'quarantined' AS kind, CAST(3 AS BIGINT) AS n,
        |    '2,TORN_B,zz' AS sample
        |)
        |ORDER BY kind""".stripMargin,
    "q144_padding_report" ->
      """WITH tk AS (
        |  SELECT len(string_split_regex(trim(text), ' +')) AS n
        |  FROM documents
        |), a AS (
        |  SELECT COUNT(*) AS nd, CAST(SUM(n) AS BIGINT) AS tot,
        |    CAST(SUM((n + 127) // 128) AS BIGINT) AS ps
        |  FROM tk
        |)
        |SELECT nd AS n_docs, tot AS total_tokens,
        |  CAST(128 AS INT) AS seq_len,
        |  ps AS padded_sequences,
        |  ps * 128 AS padded_tokens,
        |  CAST(tot AS DOUBLE) / CAST(ps * 128 AS DOUBLE)
        |    AS padded_utilization,
        |  (tot + 127) // 128 AS packed_sequences,
        |  CAST(tot AS DOUBLE) / CAST(((tot + 127) // 128) * 128 AS DOUBLE)
        |    AS packed_utilization
        |FROM a""".stripMargin,
    "q141_top_paths" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts, event_id,
        |    event_type
        |  FROM events
        |), g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g
        |), pth AS (
        |  SELECT user_id, session_id,
        |    array_to_string(
        |      (list(event_type ORDER BY ts, event_id))[1:5], '>') AS path
        |  FROM s GROUP BY user_id, session_id
        |)
        |SELECT path, COUNT(*) AS n_sessions
        |FROM pth GROUP BY path
        |ORDER BY n_sessions DESC, path
        |LIMIT 40""".stripMargin,
    "q142_embedding_drift" ->
      """WITH ref AS (
        |  SELECT embedding FROM embeddings WHERE vec_id % 2 = 0
        |), cur AS (
        |  SELECT list_transform(list_zip(embedding, range(len(embedding))),
        |      z -> CASE WHEN z[2] = 0
        |        THEN CAST(z[1] * CAST(4.0 AS REAL) AS REAL)
        |        ELSE z[1] END) AS embedding
        |  FROM embeddings WHERE vec_id % 2 = 1
        |), cd AS (
        |  SELECT dim, CAST(ROUND(AVG(CAST(x AS DOUBLE)), 6) AS REAL) AS m
        |  FROM (SELECT unnest(embedding) AS x,
        |          unnest(range(len(embedding))) AS dim FROM ref)
        |  GROUP BY dim
        |), cv AS (
        |  SELECT list(m ORDER BY dim) AS mv,
        |    sqrt(list_sum(list_transform(list(m ORDER BY dim),
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS mnorm
        |  FROM cd
        |), rc AS (
        |  SELECT ROUND(
        |    list_sum(list_transform(list_zip(embedding, mv),
        |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * mnorm),
        |    4) AS c
        |  FROM ref CROSS JOIN cv
        |), uc AS (
        |  SELECT ROUND(
        |    list_sum(list_transform(list_zip(embedding, mv),
        |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * mnorm),
        |    4) AS c
        |  FROM cur CROSS JOIN cv
        |), b AS (
        |  SELECT MIN(c) AS lo, MAX(c) AS hi FROM rc
        |), rh AS (
        |  SELECT LEAST(GREATEST(CAST(FLOOR(
        |      (c - lo) * 20.0 / (hi - lo)) AS INT), 0), 19) AS bucket,
        |    COUNT(*) AS n_ref
        |  FROM rc, b GROUP BY 1
        |), uh AS (
        |  SELECT LEAST(GREATEST(CAST(FLOOR(
        |      (c - lo) * 20.0 / (hi - lo)) AS INT), 0), 19) AS bucket,
        |    COUNT(*) AS n_cur
        |  FROM uc, b GROUP BY 1
        |), gg AS (
        |  SELECT CAST(UNNEST(range(20)) AS INT) AS bucket
        |), j AS (
        |  SELECT gg.bucket, COALESCE(rh.n_ref, 0) AS n_ref,
        |    COALESCE(uh.n_cur, 0) AS n_cur
        |  FROM gg LEFT JOIN rh ON gg.bucket = rh.bucket
        |          LEFT JOIN uh ON gg.bucket = uh.bucket
        |), t AS (
        |  SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
        |    CAST(SUM(n_cur) AS BIGINT) AS tc FROM j
        |)
        |SELECT j.bucket, j.n_ref, j.n_cur,
        |  ROUND((GREATEST(CAST(j.n_ref AS DOUBLE) / CAST(t.tr AS DOUBLE), 1e-6)
        |       - GREATEST(CAST(j.n_cur AS DOUBLE) / CAST(t.tc AS DOUBLE), 1e-6))
        |    * ln(GREATEST(CAST(j.n_ref AS DOUBLE) / CAST(t.tr AS DOUBLE), 1e-6)
        |       / GREATEST(CAST(j.n_cur AS DOUBLE) / CAST(t.tc AS DOUBLE), 1e-6)),
        |    6) AS psi6
        |FROM j, t ORDER BY j.bucket""".stripMargin,
    "q139_corpus_composition" ->
      """WITH rtk AS (
        |  SELECT unnest(string_split_regex(trim(text), ' +')) AS w
        |  FROM documents WHERE lang = 'en'
        |), fr AS (
        |  SELECT w, COUNT(*) AS c FROM rtk GROUP BY w
        |), mf AS (
        |  SELECT GREATEST(1, (CAST(SUM(c) AS BIGINT) + 999) // 1000) AS minf
        |  FROM fr
        |), vocab AS (
        |  SELECT w FROM fr, mf WHERE c >= minf
        |), dd AS (
        |  SELECT source, lang, COUNT(*) AS n_docs,
        |    CAST(SUM(length(text)) AS BIGINT) AS n_chars
        |  FROM documents GROUP BY 1, 2
        |), tk AS (
        |  SELECT source, lang,
        |    unnest(string_split_regex(trim(text), ' +')) AS w
        |  FROM documents
        |), ta AS (
        |  SELECT t.source, t.lang, COUNT(*) AS n_tokens,
        |    CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS oov_tokens
        |  FROM tk t LEFT JOIN vocab v ON t.w = v.w GROUP BY 1, 2
        |), tot AS (
        |  SELECT CAST(SUM(n_tokens) AS DOUBLE) AS total FROM ta
        |)
        |SELECT d.source, d.lang, d.n_docs, d.n_chars,
        |  COALESCE(ta.n_tokens, 0) AS n_tokens,
        |  CAST(COALESCE(ta.n_tokens, 0) AS DOUBLE) / tot.total AS token_share,
        |  COALESCE(ta.oov_tokens, 0) AS oov_tokens,
        |  CASE WHEN COALESCE(ta.n_tokens, 0) > 0
        |    THEN CAST(ta.oov_tokens AS DOUBLE) / CAST(ta.n_tokens AS DOUBLE)
        |  END AS oov_rate
        |FROM dd d LEFT JOIN ta ON d.source = ta.source AND d.lang = ta.lang
        |CROSS JOIN tot
        |ORDER BY d.source, d.lang""".stripMargin,
    "q140_k_anonymity" ->
      """WITH q AS (
        |  SELECT c_mktsegment, c_nationkey,
        |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band
        |  FROM customer
        |), g AS (
        |  SELECT COUNT(*) AS sz FROM q
        |  GROUP BY c_mktsegment, c_nationkey, bal_band
        |)
        |SELECT sz AS group_size, COUNT(*) AS n_groups,
        |  CAST(SUM(sz) AS BIGINT) AS n_rows, sz < 10 AS at_risk
        |FROM g GROUP BY sz
        |ORDER BY sz""".stripMargin,
    "q138_stupid_backoff" ->
      """WITH cand AS (
        |  SELECT doc_id, CASE WHEN doc_id % 17 = 0
        |    THEN text || ' qq17 ww17 qq17' ELSE text END AS text
        |  FROM documents
        |), rt AS (
        |  SELECT string_split_regex(trim(text), ' +') AS tk
        |  FROM documents WHERE lang = 'en'
        |), c1 AS (
        |  SELECT w, COUNT(*) AS c
        |  FROM (SELECT unnest(tk) AS w FROM rt) GROUP BY w
        |), r2 AS (
        |  SELECT tk, unnest(range(len(tk) - 1)) AS i FROM rt WHERE len(tk) >= 2
        |), c2 AS (
        |  SELECT tk[CAST(i+1 AS INT)] AS w1, tk[CAST(i+2 AS INT)] AS w,
        |    COUNT(*) AS c
        |  FROM r2 GROUP BY 1, 2
        |), r3 AS (
        |  SELECT tk, unnest(range(len(tk) - 2)) AS i FROM rt WHERE len(tk) >= 3
        |), c3 AS (
        |  SELECT tk[CAST(i+1 AS INT)] AS w2, tk[CAST(i+2 AS INT)] AS w1,
        |    tk[CAST(i+3 AS INT)] AS w, COUNT(*) AS c
        |  FROM r3 GROUP BY 1, 2, 3
        |), nn AS (
        |  SELECT CAST(SUM(c) AS DOUBLE) AS n FROM c1
        |), ct AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS tk FROM cand
        |), p0 AS (
        |  SELECT doc_id, tk, unnest(range(len(tk) - 2)) AS i
        |  FROM ct WHERE len(tk) >= 3
        |), pos AS (
        |  SELECT doc_id, tk[CAST(i+1 AS INT)] AS w2, tk[CAST(i+2 AS INT)] AS w1,
        |    tk[CAST(i+3 AS INT)] AS w
        |  FROM p0
        |), sc AS (
        |  SELECT pos.doc_id,
        |    CASE
        |      WHEN c3.c IS NOT NULL
        |        THEN ln(CAST(c3.c AS DOUBLE) / CAST(ctx.c AS DOUBLE))
        |      WHEN b.c IS NOT NULL
        |        THEN ln(CAST(0.4 AS DOUBLE) * CAST(b.c AS DOUBLE)
        |          / CAST(u1w1.c AS DOUBLE))
        |      ELSE ln(CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)
        |        * CAST(GREATEST(COALESCE(u1.c, 0), 1) AS DOUBLE) / nn.n)
        |    END AS lns
        |  FROM pos
        |  LEFT JOIN c3 ON pos.w2 = c3.w2 AND pos.w1 = c3.w1 AND pos.w = c3.w
        |  LEFT JOIN c2 ctx ON pos.w2 = ctx.w1 AND pos.w1 = ctx.w
        |  LEFT JOIN c2 b ON pos.w1 = b.w1 AND pos.w = b.w
        |  LEFT JOIN c1 u1w1 ON pos.w1 = u1w1.w
        |  LEFT JOIN c1 u1 ON pos.w = u1.w
        |  CROSS JOIN nn
        |)
        |SELECT doc_id, COUNT(*) AS n_scored,
        |  ROUND(AVG(lns), 6) AS avg_logscore6
        |FROM sc GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "q136_orc_roundtrip" ->
      """SELECT p_brand, COUNT(*) AS n_parts,
        |  CAST(SUM(p_size) AS BIGINT) AS sum_size,
        |  CAST(SUM(p_partkey) AS BIGINT) AS sum_keys,
        |  MIN(md5(p_name)) AS min_name_md5,
        |  MAX(md5(p_type)) AS max_type_md5,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM part
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
    "q137_export_manifest" ->
      """WITH p AS (
        |  SELECT doc_id, text,
        |    row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
        |      - 1 AS pos
        |  FROM documents
        |), f AS (
        |  SELECT CAST(pos % 8 AS INTEGER) AS shard, pos,
        |    length(text) AS len,
        |    md5(CAST(doc_id AS VARCHAR) || ':' || text) AS h
        |  FROM p
        |), v AS (
        |  SELECT shard, pos, len,
        |    CAST(list_sum(list_transform(range(8), i ->
        |      (strpos('0123456789abcdef', substr(h, CAST(i+1 AS INT), 1)) - 1)
        |        * 16**(7-i))) AS BIGINT) AS hi32,
        |    CAST(list_sum(list_transform(range(8), i ->
        |      (strpos('0123456789abcdef', substr(h, CAST(i+9 AS INT), 1)) - 1)
        |        * 16**(7-i))) AS BIGINT) AS lo32
        |  FROM f
        |), w AS (
        |  SELECT shard, pos, len,
        |    CASE WHEN hi32 >= 2147483648
        |         THEN (hi32 - 4294967296)*4294967296 + lo32
        |         ELSE hi32*4294967296 + lo32 END AS fp
        |  FROM v
        |)
        |SELECT shard, COUNT(*) AS n_docs,
        |  CAST(SUM(len) AS BIGINT) AS n_chars,
        |  MIN(pos) AS min_pos, MAX(pos) AS max_pos,
        |  bit_xor(fp) AS content_xor64
        |FROM w GROUP BY shard
        |ORDER BY shard""".stripMargin,
    "q134_resample_ffill" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, value, event_id FROM events
        |), ob AS (
        |  SELECT user_id, (t - (t % 86400000000)) // 86400000000 AS s,
        |    value,
        |    row_number() OVER (
        |      PARTITION BY user_id, (t - (t % 86400000000)) // 86400000000
        |      ORDER BY t DESC, event_id DESC) AS rn
        |  FROM e WHERE t IS NOT NULL
        |), obs AS (
        |  SELECT user_id, s, value FROM ob WHERE rn = 1
        |), sp AS (
        |  SELECT user_id, MIN(s) AS lo, MAX(s) AS hi FROM obs GROUP BY user_id
        |), grid AS (
        |  SELECT user_id, UNNEST(range(lo, hi + 1)) AS s FROM sp
        |), j AS (
        |  SELECT g.user_id, g.s, o.value,
        |    (o.user_id IS NOT NULL) AS observed
        |  FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.s = o.s
        |)
        |SELECT user_id, s * 86400000000 AS step_start_us,
        |  last_value(value IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS value,
        |  observed
        |FROM j
        |ORDER BY user_id, step_start_us""".stripMargin,
    "q135_snapshot_diff" ->
      """WITH p AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |  WHERE c_custkey % 10 <> 0
        |), n AS (
        |  SELECT c_custkey, c_mktsegment,
        |    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
        |         ELSE c_acctbal END AS c_acctbal
        |  FROM customer WHERE c_custkey % 13 <> 0
        |), d AS (
        |  SELECT COALESCE(p.c_custkey, n.c_custkey) AS c_custkey,
        |    CASE WHEN p.c_custkey IS NULL THEN 'insert'
        |         WHEN n.c_custkey IS NULL THEN 'delete'
        |         WHEN p.c_mktsegment IS DISTINCT FROM n.c_mktsegment
        |           OR p.c_acctbal IS DISTINCT FROM n.c_acctbal
        |           THEN 'update' END AS change_type,
        |    p.c_mktsegment AS c_mktsegment_prev,
        |    n.c_mktsegment AS c_mktsegment_next,
        |    p.c_acctbal AS c_acctbal_prev,
        |    n.c_acctbal AS c_acctbal_next
        |  FROM p FULL OUTER JOIN n ON p.c_custkey = n.c_custkey
        |)
        |SELECT * FROM d WHERE change_type IS NOT NULL
        |ORDER BY c_custkey""".stripMargin,
    "q133_stream_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT) AS ship_month,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price,
        |  MIN(l_discount) AS min_disc,
        |  MAX(l_discount) AS max_disc,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS avg_qty
        |FROM lineitem
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,
    "q132_attribution" ->
      """WITH t AS (
        |  SELECT user_id, epoch_us(ts) AS touch_ts_us,
        |    event_type AS touch_type, event_id AS touch_id
        |  FROM events WHERE event_type IN ('view', 'click')
        |), c AS (
        |  SELECT user_id, epoch_us(ts) AS conv_ts_us, event_id AS conv_id
        |  FROM events WHERE event_type = 'purchase'
        |), j AS (
        |  SELECT c.user_id, c.conv_id, c.conv_ts_us,
        |    t.touch_id, t.touch_type, t.touch_ts_us
        |  FROM c JOIN t ON c.user_id = t.user_id
        |  WHERE t.touch_ts_us <= c.conv_ts_us
        |    AND t.touch_ts_us > c.conv_ts_us - 604800000000
        |)
        |SELECT user_id, conv_id, conv_ts_us, touch_id, touch_type,
        |  touch_ts_us,
        |  1.0 / CAST(COUNT(*) OVER (PARTITION BY conv_id) AS DOUBLE)
        |    AS weight
        |FROM j
        |ORDER BY conv_id, touch_id""".stripMargin,
    "q129_classifier_eval" ->
      """WITH tk AS (
        |  SELECT doc_id, (lang = 'en') AS pos,
        |    unnest(string_split_regex(trim(text), ' +')) AS token
        |  FROM documents
        |), cc AS (
        |  SELECT token,
        |    SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cpos,
        |    SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS cneg
        |  FROM tk GROUP BY token
        |), scal AS (
        |  SELECT SUM(cpos) AS totpos, SUM(cneg) AS totneg, COUNT(*) AS v
        |  FROM cc
        |), nd AS (
        |  SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS npos,
        |    COUNT(*) AS ntot
        |  FROM documents
        |), lp AS (
        |  SELECT cc.token,
        |    ln((cc.cpos + 1.0) / (s.totpos + CAST(s.v AS DOUBLE))) AS lppos,
        |    ln((cc.cneg + 1.0) / (s.totneg + CAST(s.v AS DOUBLE))) AS lpneg
        |  FROM cc CROSS JOIN scal s
        |), dtf AS (
        |  SELECT doc_id, token, COUNT(*) AS tf FROM tk GROUP BY doc_id, token
        |), sc AS (
        |  SELECT dtf.doc_id, SUM(dtf.tf * (lp.lppos - lp.lpneg)) AS sd
        |  FROM dtf JOIN lp USING (token) GROUP BY dtf.doc_id
        |), scored AS (
        |  SELECT (d.lang = 'en') AS label,
        |    ROUND(ln(CAST(nd.npos AS DOUBLE) / CAST(nd.ntot - nd.npos AS DOUBLE))
        |      + COALESCE(sc.sd, 0.0), 6) AS s
        |  FROM documents d CROSS JOIN nd
        |  LEFT JOIN sc ON d.doc_id = sc.doc_id
        |), cm AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN label AND s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN NOT label AND s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN NOT label AND NOT (s > 0) THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        |    CAST(SUM(CASE WHEN label AND NOT (s > 0) THEN 1 ELSE 0 END) AS BIGINT) AS fn
        |  FROM scored
        |), sg AS (
        |  SELECT s, COUNT(*) AS cn,
        |    CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS np
        |  FROM scored GROUP BY s
        |), pg AS (
        |  SELECT cn, np, COALESCE(CAST(SUM(cn) OVER (ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cb
        |  FROM sg
        |), tot AS (
        |  SELECT CAST(SUM(np) AS BIGINT) AS npos,
        |    CAST(SUM(cn - np) AS BIGINT) AS nneg,
        |    CAST(SUM(np * (2 * cb + cn + 1)) AS BIGINT) AS rs2
        |  FROM pg
        |)
        |SELECT metric, value FROM (
        |  SELECT 'n' AS metric, CAST(n AS DOUBLE) AS value FROM cm
        |  UNION ALL SELECT 'tp', CAST(tp AS DOUBLE) FROM cm
        |  UNION ALL SELECT 'fp', CAST(fp AS DOUBLE) FROM cm
        |  UNION ALL SELECT 'tn', CAST(tn AS DOUBLE) FROM cm
        |  UNION ALL SELECT 'fn', CAST(fn AS DOUBLE) FROM cm
        |  UNION ALL SELECT 'accuracy', CASE WHEN n <> 0
        |    THEN CAST(tp + tn AS DOUBLE) / CAST(n AS DOUBLE) END FROM cm
        |  UNION ALL SELECT 'precision', CASE WHEN tp + fp <> 0
        |    THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END FROM cm
        |  UNION ALL SELECT 'recall', CASE WHEN tp + fn <> 0
        |    THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END FROM cm
        |  UNION ALL SELECT 'f1', CASE WHEN 2 * tp + fp + fn <> 0
        |    THEN CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) END
        |    FROM cm
        |  UNION ALL SELECT 'n_pos', CAST(npos AS DOUBLE) FROM tot
        |  UNION ALL SELECT 'n_neg', CAST(nneg AS DOUBLE) FROM tot
        |  UNION ALL SELECT 'auc', CASE WHEN npos > 0 AND nneg > 0
        |    THEN CAST(rs2 - npos * (npos + 1) AS DOUBLE)
        |      / CAST(2 * npos * nneg AS DOUBLE) END FROM tot
        |)
        |ORDER BY metric""".stripMargin,
    "q130_calibration" ->
      """WITH tk AS (
        |  SELECT doc_id, (lang = 'en') AS pos,
        |    unnest(string_split_regex(trim(text), ' +')) AS token
        |  FROM documents
        |), cc AS (
        |  SELECT token,
        |    SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cpos,
        |    SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS cneg
        |  FROM tk GROUP BY token
        |), scal AS (
        |  SELECT SUM(cpos) AS totpos, SUM(cneg) AS totneg, COUNT(*) AS v
        |  FROM cc
        |), nd AS (
        |  SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS npos,
        |    COUNT(*) AS ntot
        |  FROM documents
        |), lp AS (
        |  SELECT cc.token,
        |    ln((cc.cpos + 1.0) / (s.totpos + CAST(s.v AS DOUBLE))) AS lppos,
        |    ln((cc.cneg + 1.0) / (s.totneg + CAST(s.v AS DOUBLE))) AS lpneg
        |  FROM cc CROSS JOIN scal s
        |), dtf AS (
        |  SELECT doc_id, token, COUNT(*) AS tf FROM tk GROUP BY doc_id, token
        |), sc AS (
        |  SELECT dtf.doc_id, SUM(dtf.tf * (lp.lppos - lp.lpneg)) AS sd
        |  FROM dtf JOIN lp USING (token) GROUP BY dtf.doc_id
        |), scored AS (
        |  SELECT (d.lang = 'en') AS label,
        |    ROUND(ln(CAST(nd.npos AS DOUBLE) / CAST(nd.ntot - nd.npos AS DOUBLE))
        |      + COALESCE(sc.sd, 0.0), 6) AS s
        |  FROM documents d CROSS JOIN nd
        |  LEFT JOIN sc ON d.doc_id = sc.doc_id
        |), b AS (
        |  SELECT MIN(s) AS lo, MAX(s) AS hi FROM scored
        |), per AS (
        |  SELECT LEAST(GREATEST(CAST(FLOOR(
        |      (s - lo) * 10.0 / (hi - lo)) AS INT), 0), 9) AS bucket,
        |    COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    SUM(CAST(s AS DECIMAL(28,6))) AS ssum
        |  FROM scored, b GROUP BY 1
        |), g AS (
        |  SELECT CAST(UNNEST(range(10)) AS INT) AS bucket
        |)
        |SELECT g.bucket,
        |  ROUND(lo + g.bucket * (hi - lo) / 10.0, 6) AS lo6,
        |  ROUND(lo + (g.bucket + 1) * (hi - lo) / 10.0, 6) AS hi6,
        |  COALESCE(per.n, 0) AS n,
        |  COALESCE(per.n_pos, 0) AS n_pos,
        |  CASE WHEN per.n > 0
        |    THEN CAST(per.n_pos AS DOUBLE) / CAST(per.n AS DOUBLE) END
        |    AS frac_pos,
        |  CASE WHEN per.n > 0
        |    THEN ROUND(CAST(per.ssum AS DOUBLE) / CAST(per.n AS DOUBLE), 6) END
        |    AS mean_score6
        |FROM g CROSS JOIN b LEFT JOIN per ON g.bucket = per.bucket
        |ORDER BY g.bucket""".stripMargin,
    "q128_psi_drift" -> psiDriftOracle,
    "q169_stream_drift" -> psiDriftOracle,
    "q127_histogram" ->
      """WITH b AS (
        |  SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
        |), c AS (
        |  SELECT LEAST(GREATEST(CAST(FLOOR(
        |      (o_totalprice - lo) * 20.0 / (hi - lo)) AS INT), 0), 19)
        |      AS bucket,
        |    COUNT(*) AS n
        |  FROM orders, b GROUP BY 1
        |), g AS (
        |  SELECT CAST(UNNEST(range(20)) AS INT) AS bucket
        |)
        |SELECT g.bucket,
        |  ROUND(lo + g.bucket * (hi - lo) / 20.0, 6) AS lo6,
        |  ROUND(lo + (g.bucket + 1) * (hi - lo) / 20.0, 6) AS hi6,
        |  COALESCE(c.n, 0) AS n
        |FROM g CROSS JOIN b LEFT JOIN c ON g.bucket = c.bucket
        |ORDER BY g.bucket""".stripMargin,
    "q126_quality_gate" ->
      """WITH rl AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN l_quantity >= 1.0 AND l_quantity <= 50.0
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v_qty,
        |    CAST(SUM(CASE WHEN l_shipdate IS NOT NULL
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v_ship,
        |    CAST(SUM(CASE WHEN l_returnflag IN ('A', 'N', 'R')
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v_rf,
        |    CAST(SUM(CASE WHEN regexp_matches(l_linestatus, '^[OF]$')
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v_sm,
        |    CAST(SUM(CASE WHEN l_discount >= 0.0 AND l_discount <= 0.05
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v_disc
        |  FROM lineitem
        |), uk AS (
        |  SELECT CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS v
        |  FROM (SELECT COUNT(*) AS c FROM lineitem
        |        GROUP BY l_orderkey, l_linenumber)
        |), r AS (
        |  SELECT 'in_range(l_quantity)' AS rule, 'l_quantity' AS "column",
        |    n AS n_checked, v_qty AS n_violations FROM rl
        |  UNION ALL
        |  SELECT 'not_null(l_shipdate)', 'l_shipdate', n, v_ship FROM rl
        |  UNION ALL
        |  SELECT 'accepted_values(l_returnflag)', 'l_returnflag', n, v_rf
        |  FROM rl
        |  UNION ALL
        |  SELECT 'matches_regex(l_linestatus)', 'l_linestatus', n, v_sm FROM rl
        |  UNION ALL
        |  SELECT 'in_range(l_discount)', 'l_discount', n, v_disc FROM rl
        |  UNION ALL
        |  SELECT 'unique_key(l_orderkey,l_linenumber)',
        |    'l_orderkey,l_linenumber', n, v FROM uk
        |)
        |SELECT rule, "column", n_checked, n_violations,
        |  CAST(n_violations AS DOUBLE) <= 0.0 AS pass
        |FROM r ORDER BY rule""".stripMargin,
    "q125_retrieval_eval" -> q125OracleSql,
    // the joined formulation is held to the SAME ground truth — the
    // two-formulations-one-oracle pattern (q110/q173)
    "q184_retrieval_eval_joined" -> q125OracleSql,
    "q190_distinct_rollup" ->
      """SELECT event_type, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_exact,
        |  TRUE AS est_ok
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // the stream fold is held to the identical gate (register-exact
    // sketch merges make stream == batch provable)
    "q191_stream_distinct_rollup" ->
      """SELECT event_type, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_exact,
        |  TRUE AS est_ok
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q192_spearman_rho" ->
      """WITH b AS (
        |  SELECT doc_id AS id, CAST(n_chars AS DOUBLE) AS a,
        |    CAST(len(string_split_regex(trim(text), ' +')) AS DOUBLE) AS bb
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND text IS NOT NULL
        |), r AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY a, id) - 1 AS ra,
        |         ROW_NUMBER() OVER (ORDER BY bb, id) - 1 AS rb
        |  FROM b
        |), s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM((ra - rb) * (ra - rb)) AS DOUBLE) AS sum_d2
        |  FROM r
        |)
        |SELECT n, sum_d2,
        |  ROUND(1.0 - 6.0 * sum_d2 /
        |    (CAST(n AS DOUBLE) *
        |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0)), 6) AS rho6
        |FROM s""".stripMargin,
    "q193_pass_rate_ci" ->
      """WITH g AS (
        |  SELECT source,
        |    COUNT(CASE WHEN n_chars IS NOT NULL THEN 1 END) AS n,
        |    CAST(COUNT(CASE WHEN n_chars >= 100 THEN 1 END) AS BIGINT)
        |      AS n_pass
        |  FROM documents GROUP BY source
        |), w AS (
        |  SELECT source, n, n_pass,
        |    CAST(n_pass AS DOUBLE) / n AS p,
        |    CAST(n AS DOUBLE) AS nd
        |  FROM g
        |)
        |SELECT source, n, n_pass,
        |  ROUND(p, 6) AS rate6,
        |  ROUND(((p + 1.96*1.96/(2.0*nd))
        |    - 1.96 * sqrt(p*(1.0-p)/nd + 1.96*1.96/(4.0*nd*nd)))
        |    / (1.0 + 1.96*1.96/nd), 6) AS lo6,
        |  ROUND(((p + 1.96*1.96/(2.0*nd))
        |    + 1.96 * sqrt(p*(1.0-p)/nd + 1.96*1.96/(4.0*nd*nd)))
        |    / (1.0 + 1.96*1.96/nd), 6) AS hi6
        |FROM w ORDER BY source""".stripMargin,
    "q204_tokenizer_fertility" ->
      s"""WITH ${bpeTrainingCte(8)},
         |dt AS (
         |  SELECT lang, unnest(string_split_regex(trim(text), ' +')) AS w
         |  FROM documents
         |), j AS (
         |  SELECT d.lang,
         |    len(string_split(trim(v.repr), '  ')) AS bpe_n,
         |    length(d.w) AS chars
         |  FROM (SELECT * FROM dt WHERE length(w) > 0) d
         |  JOIN v8 v ON d.w = v.w
         |)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(bpe_n) AS BIGINT) AS n_bpe_tokens,
         |  CAST(SUM(chars) AS BIGINT) AS n_chars,
         |  ROUND(CAST(SUM(bpe_n) AS DOUBLE) / COUNT(*), 6)
         |    AS tokens_per_word6,
         |  ROUND(CAST(SUM(chars) AS DOUBLE) / SUM(bpe_n), 6)
         |    AS chars_per_token6
         |FROM j GROUP BY lang ORDER BY lang""".stripMargin,
    "q203_schema_compat" ->
      """SELECT * FROM (VALUES
        |  ('l_comment', 'STRING', '', 'ok_null_fill'),
        |  ('l_discount', '', 'DOUBLE', 'ignored_extra'),
        |  ('l_linenumber', 'BIGINT', 'INT', 'ok_widen'),
        |  ('l_orderkey', 'BIGINT', 'BIGINT', 'ok'),
        |  ('l_quantity', 'INT', 'DOUBLE', 'incompatible_type'),
        |  ('l_returnflag', 'BOOLEAN', 'STRING', 'incompatible_type'),
        |  ('l_shipmode', 'STRING', '', 'missing_required')
        |) AS t("column", reader_type, writer_type, verdict)
        |ORDER BY "column"""".stripMargin,
    "q202_rank_normalize" ->
      """WITH r AS (
        |  SELECT lang,
        |    ROUND((CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |        ORDER BY n_chars, doc_id) AS DOUBLE) - 0.5)
        |      / CAST(COUNT(*) OVER (PARTITION BY lang) AS DOUBLE), 6)
        |      AS pct
        |  FROM documents WHERE n_chars IS NOT NULL
        |)
        |SELECT lang, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(pct * 1000000.0) AS BIGINT)) AS BIGINT)
        |    AS sum_pct_micros,
        |  MIN(pct) AS min_pct, MAX(pct) AS max_pct
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
    "q201_embedding_health" ->
      """WITH v AS (
        |  SELECT embedding AS v FROM embeddings WHERE embedding IS NOT NULL
        |), nn AS (
        |  SELECT COUNT(*) AS n FROM v
        |), cdim AS (
        |  SELECT i AS d,
        |    CAST(CAST(SUM(CAST(ROUND(CAST(v[CAST(i+1 AS INT)] AS DOUBLE), 12)
        |        AS DECIMAL(38,12))) AS DOUBLE) / (SELECT n FROM nn)
        |      AS REAL) AS cx
        |  FROM v, (SELECT unnest(range(64)) AS i)
        |  GROUP BY i
        |), cen AS (
        |  SELECT list(cx ORDER BY d) AS c FROM cdim
        |), scored AS (
        |  SELECT
        |    sqrt(list_sum(list_transform(v,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
        |    list_sum(list_transform(list_zip(v, cen.c),
        |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(v,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(cen.c,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cs
        |  FROM v, cen
        |)
        |SELECT (SELECT n FROM nn) AS n, 64 AS dims,
        |  CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero_norm,
        |  ROUND(CAST(SUM(CAST(ROUND(nrm, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |    / (SELECT n FROM nn), 6) AS mean_norm6,
        |  MIN(ROUND(nrm, 6)) AS min_norm6,
        |  MAX(ROUND(nrm, 6)) AS max_norm6,
        |  ROUND(CAST(SUM(CASE WHEN nrm > 0
        |      THEN CAST(ROUND(cs, 12) AS DECIMAL(38,12))
        |      ELSE CAST(0 AS DECIMAL(38,12)) END) AS DOUBLE)
        |    / ((SELECT n FROM nn)
        |       - SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END)), 6)
        |    AS mean_cos_centroid6
        |FROM scored""".stripMargin,
    "q200_savings_sweep" -> {
      def block(tag: String, t: String) =
        s""", e_$tag AS (
           |  SELECT id_a, id_b FROM p WHERE j >= $t
           |), sym_$tag AS (
           |  SELECT id_a AS a, id_b AS b FROM e_$tag
           |  UNION SELECT id_b, id_a FROM e_$tag
           |), reach_$tag AS (
           |  SELECT a AS node, a AS r FROM sym_$tag
           |  UNION
           |  SELECT s2.a, r.r FROM sym_$tag s2 JOIN reach_$tag r
           |    ON s2.b = r.node
           |), cc_$tag AS (
           |  SELECT node, MIN(r) AS comp FROM reach_$tag GROUP BY node
           |), st_$tag AS (
           |  SELECT CAST($t AS DOUBLE) AS threshold,
           |    CAST(COUNT(*) AS BIGINT) AS n_docs_in_pairs,
           |    CAST(COUNT(DISTINCT comp) AS BIGINT) AS n_clusters,
           |    CAST(COUNT(*) - COUNT(DISTINCT comp) AS BIGINT)
           |      AS removable_docs
           |  FROM cc_$tag
           |)""".stripMargin
      s"""WITH RECURSIVE tk AS (
         |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
         |  FROM documents
         |), s AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
         |         ELSE list_distinct(list_transform(range(len(toks)-2), i ->
         |           toks[CAST(i+1 AS INT)] || '_' || toks[CAST(i+2 AS INT)]
         |             || '_' || toks[CAST(i+3 AS INT)])) END AS sh
         |  FROM tk
         |), ex AS (
         |  SELECT doc_id, len(sh) AS m, unnest(sh) AS g FROM s
         |), p AS (
         |  -- inverted-index candidates (exact: zero-overlap pairs have
         |  -- j = 0, below every swept threshold); see componentsOracleCte
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(COUNT(*) AS DOUBLE)
         |      / NULLIF(CAST(a.m + b.m - COUNT(*) AS DOUBLE), 0.0) AS j
         |  FROM ex a JOIN ex b ON a.g = b.g AND b.doc_id > a.doc_id
         |  GROUP BY a.doc_id, b.doc_id, a.m, b.m
         |)${block("05", "0.5")}${block("07", "0.96")}${block("09", "0.98")}
         |SELECT * FROM st_05
         |UNION ALL SELECT * FROM st_07
         |UNION ALL SELECT * FROM st_09
         |ORDER BY threshold""".stripMargin
    },
    "q199_ab_experiment" -> abExperimentOracle,
    // the streaming fold is held to the identical readout (per-arm
    // counts merge by SUM, so the monitored rates are split-invariant)
    "q205_stream_ab_monitor" -> abExperimentOracle,
    "q375_sequential_ab" -> sequentialAbOracle,
    // the monitor's final look is held to the batch readout (per-arm
    // counts fold by SUM; the sequential min/crossed trail is
    // spec-pinned, not oracle-checked — it depends on the look
    // schedule by design)
    "q376_stream_sequential_ab" -> sequentialAbOracle,

    "q197_pruning_report" -> {
      val zTerms = (0 until 16).map(i =>
        s"(((x >> $i) & 1) << ${2 * i}) | (((y >> $i) & 1) << ${2 * i + 1})")
        .mkString(" | ")
      s"""WITH src AS (
         |  SELECT p_partkey, p_size, CAST(p_size AS BIGINT) AS x0,
         |    CAST(TRUNC(p_retailprice) AS BIGINT) AS y0
         |  FROM part
         |), b AS (
         |  SELECT MIN(x0) AS xmin, MAX(x0) AS xmax,
         |         MIN(y0) AS ymin, MAX(y0) AS ymax
         |  FROM src
         |), n AS (
         |  SELECT p_partkey, p_size,
         |    ((x0 - xmin) * 65536) // (xmax - xmin + 1) AS x,
         |    ((y0 - ymin) * 65536) // (ymax - ymin + 1) AS y
         |  FROM src, b
         |), zt AS (
         |  SELECT p_partkey, p_size, $zTerms AS z FROM n
         |), lin AS (
         |  SELECT p_size,
         |    (ROW_NUMBER() OVER (ORDER BY p_partkey) - 1) // 100 AS fid
         |  FROM src
         |), zo AS (
         |  SELECT p_size,
         |    (ROW_NUMBER() OVER (ORDER BY z, p_partkey) - 1) // 100 AS fid
         |  FROM zt
         |), files AS (
         |  SELECT 'linear' AS layout, fid,
         |    MIN(CAST(p_size AS DOUBLE)) AS mn,
         |    MAX(CAST(p_size AS DOUBLE)) AS mx, COUNT(*) AS cnt
         |  FROM lin GROUP BY fid
         |  UNION ALL
         |  SELECT 'zorder', fid, MIN(CAST(p_size AS DOUBLE)),
         |    MAX(CAST(p_size AS DOUBLE)), COUNT(*)
         |  FROM zo GROUP BY fid
         |), probes(lo, hi) AS (
         |  VALUES (1.0, 5.0), (20.0, 25.0), (40.0, 50.0)
         |)
         |SELECT layout, lo AS probe_lo, hi AS probe_hi,
         |  COUNT(*) AS n_files,
         |  CAST(SUM(CASE WHEN mn <= hi AND mx >= lo THEN 1 ELSE 0 END)
         |    AS BIGINT) AS files_scanned,
         |  CAST(SUM(CASE WHEN mn <= hi AND mx >= lo THEN cnt ELSE 0 END)
         |    AS BIGINT) AS rows_scanned
         |FROM files, probes GROUP BY layout, lo, hi
         |ORDER BY layout, probe_lo""".stripMargin
    },
    "q195_budget_allocation" ->
      """WITH c AS (
        |  SELECT source,
        |    CAST(SUM(COALESCE(len(string_split_regex(trim(text), ' +')), 0))
        |      AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source
        |), t AS (
        |  SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tot,
        |    CAST(TRUNC(1.5 * CAST(SUM(n_tokens) AS DOUBLE))
        |      AS DECIMAL(38,12)) AS b
        |  FROM c
        |), p AS (
        |  SELECT source, n_tokens,
        |    CAST(ROUND(pow(CAST(n_tokens AS DOUBLE) / tot, 0.7), 12)
        |      AS DECIMAL(38,12)) AS pt,
        |    CAST(2.0 AS DECIMAL(38,12)) * n_tokens AS cap
        |  FROM c, t
        |), r AS (
        |  SELECT source, n_tokens, pt, cap,
        |    CASE WHEN pt = 0 THEN 0.0
        |         ELSE CAST(cap AS DOUBLE) / CAST(pt AS DOUBLE) END AS rr
        |  FROM p
        |), w AS (
        |  SELECT source, n_tokens, pt, cap, rr,
        |    SUM(pt) OVER ord AS pti,
        |    SUM(cap) OVER ord AS capi
        |  FROM r WINDOW ord AS (ORDER BY rr, source
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), w2 AS (
        |  SELECT w.*, t.b,
        |    MAX(pti) OVER () AS ptt
        |  FROM w, t
        |), w3 AS (
        |  SELECT *,
        |    CASE WHEN rr * CAST(ptt - (pti - pt) AS DOUBLE)
        |           <= CAST(b - (capi - cap) AS DOUBLE)
        |      THEN 1 ELSE 0 END AS cnd
        |  FROM w2
        |), w4 AS (
        |  SELECT *,
        |    MIN(cnd) OVER (ORDER BY rr, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
        |  FROM w3
        |), lam AS (
        |  SELECT CAST(b - (capi - cap) AS DOUBLE)
        |      / CAST(ptt - (pti - pt) AS DOUBLE) AS lambda
        |  FROM w4 WHERE cp = 0 ORDER BY rr, source LIMIT 1
        |)
        |SELECT source, n_tokens,
        |  ROUND(CAST(pt AS DOUBLE) / CAST(ptt AS DOUBLE), 6) AS w6,
        |  ROUND(CASE WHEN cp = 1 THEN CAST(cap AS DOUBLE)
        |    ELSE (SELECT lambda FROM lam) * CAST(pt AS DOUBLE) END, 6)
        |    AS alloc6,
        |  CASE WHEN n_tokens = 0 THEN 0.0
        |    ELSE ROUND((CASE WHEN cp = 1 THEN CAST(cap AS DOUBLE)
        |      ELSE (SELECT lambda FROM lam) * CAST(pt AS DOUBLE) END)
        |      / CAST(n_tokens AS DOUBLE), 6) END AS epochs6,
        |  cp = 1 AS capped
        |FROM w4 ORDER BY source""".stripMargin,
    "q196_ks_drift" -> ksDriftOracle,
    // the stream fold is held to the identical statistic (sum-merged
    // value counts make the accumulated CDF split-invariant)
    "q198_stream_ks_drift" -> ksDriftOracle,
    "q188_mixture_weights" ->
      """WITH c AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(COALESCE(len(string_split_regex(trim(text), ' +')), 0))
        |      AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source
        |), t AS (
        |  SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tot FROM c
        |), p AS (
        |  SELECT source, n_docs, n_tokens,
        |    CAST(n_tokens AS DOUBLE) / tot AS p,
        |    CAST(ROUND(pow(CAST(n_tokens AS DOUBLE) / tot, 0.7), 12)
        |      AS DECIMAL(38,12)) AS pt
        |  FROM c, t
        |), s AS (
        |  SELECT CAST(SUM(pt) AS DOUBLE) AS pts FROM p
        |)
        |SELECT source, n_docs, n_tokens,
        |  ROUND(p, 6) AS p6,
        |  ROUND(CAST(pt AS DOUBLE) / pts, 6) AS w6,
        |  ROUND((CAST(pt AS DOUBLE) / pts) / p, 6) AS oversample6
        |FROM p, s ORDER BY source""".stripMargin,
    "q189_hard_negatives" -> {
      val cos =
        """list_sum(list_transform(list_zip(e.embedding, q.qv),
          |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
          |      / (sqrt(list_sum(list_transform(e.embedding,
          |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
          |         * sqrt(list_sum(list_transform(q.qv,
          |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
      s"""WITH q AS (
         |  SELECT vec_id AS anchor_id, embedding AS qv FROM embeddings
         |  WHERE vec_id % 25 = 0
         |), top5 AS (
         |  SELECT anchor_id, item_id, score6 FROM (
         |    SELECT q.anchor_id, e.vec_id AS item_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.anchor_id ORDER BY
         |        $cos DESC, e.vec_id) AS rnk,
         |      ROUND($cos, 6) AS score6
         |    FROM embeddings e JOIN q ON e.vec_id <> q.anchor_id
         |  ) WHERE rnk <= 5
         |)
         |SELECT anchor_id, item_id AS negative_id,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
         |    ORDER BY score6 DESC, item_id) AS INT) AS neg_rank,
         |  score6
         |FROM top5 WHERE score6 < 0.99
         |QUALIFY neg_rank <= 3
         |ORDER BY anchor_id, neg_rank""".stripMargin
    },
    "q185_shot_boundaries" -> shotBoundariesOracle,
    "q186_zipf_fit" ->
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(text), ' +')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT token, COUNT(*) AS freq FROM tok GROUP BY 1
        |), rk AS (
        |  SELECT ln(CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token)
        |      AS DOUBLE)) AS x,
        |    ln(CAST(freq AS DOUBLE)) AS y
        |  FROM tf
        |  QUALIFY ROW_NUMBER() OVER (ORDER BY freq DESC, token) <= 500
        |), s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(ROUND(x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(ROUND(y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(ROUND(x*y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(ROUND(x*x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(ROUND(y*y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS syy
        |  FROM rk
        |)
        |SELECT n AS n_ranked,
        |  ROUND((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope6,
        |  ROUND((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 6)
        |    AS intercept6,
        |  ROUND((n*sxy - sx*sy) * (n*sxy - sx*sy)
        |    / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2_6
        |FROM s""".stripMargin,
    "q187_quantile_buckets" ->
      """WITH src AS (
        |  SELECT event_type, value FROM events WHERE value IS NOT NULL
        |), cuts AS (
        |  SELECT event_type,
        |    list_transform(quantile_cont(value, [0.25, 0.5, 0.75]),
        |      c -> ROUND(c, 6)) AS cuts
        |  FROM src GROUP BY 1
        |), b AS (
        |  SELECT s.event_type,
        |    1 + CAST(list_sum(list_transform(c.cuts,
        |      x -> CASE WHEN s.value > x THEN 1 ELSE 0 END)) AS INT) AS bucket,
        |    s.value
        |  FROM src s JOIN cuts c USING (event_type)
        |)
        |SELECT event_type, bucket, COUNT(*) AS n,
        |  ROUND(MIN(value), 6) AS min6, ROUND(MAX(value), 6) AS max6
        |FROM b GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "q124_zorder" -> {
      // the same 16-bit Morton interleave Layout.mortonInterleave
      // codegens, unrolled as SQL bit arithmetic
      val zTerms = (0 until 16).map(i =>
        s"(((x >> $i) & 1) << ${2 * i}) | (((y >> $i) & 1) << ${2 * i + 1})")
        .mkString(" | ")
      s"""WITH src AS (
         |  SELECT p_partkey, CAST(p_size AS BIGINT) AS x0,
         |    CAST(TRUNC(p_retailprice) AS BIGINT) AS y0
         |  FROM part
         |), b AS (
         |  SELECT MIN(x0) AS xmin, MAX(x0) AS xmax,
         |         MIN(y0) AS ymin, MAX(y0) AS ymax
         |  FROM src
         |), n AS (
         |  SELECT p_partkey,
         |    ((x0 - xmin) * 65536) // (xmax - xmin + 1) AS x,
         |    ((y0 - ymin) * 65536) // (ymax - ymin + 1) AS y
         |  FROM src, b
         |)
         |SELECT p_partkey, $zTerms AS z
         |FROM n ORDER BY p_partkey""".stripMargin
    },
    "q123_apply_changes" ->
      """WITH w AS (
        |  SELECT o_custkey AS key, o_orderpriority AS priority,
        |    o_orderdate AS ts,
        |    CASE WHEN o_orderstatus = 'F' THEN 'delete' ELSE 'upsert' END
        |      AS op,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders
        |)
        |SELECT key, priority, epoch_us(ts) AS applied_us
        |FROM w WHERE rn = 1 AND op = 'upsert'
        |ORDER BY key""".stripMargin,
    "q122_transition_matrix" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts, event_id,
        |    event_type
        |  FROM events
        |), g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g
        |), st AS (
        |  SELECT event_type,
        |    lead(event_type) OVER w2 AS nxt,
        |    row_number() OVER w2 AS rn
        |  FROM s WINDOW w2 AS (PARTITION BY user_id, session_id
        |    ORDER BY ts, event_id)
        |), tr AS (
        |  SELECT event_type AS from_state, nxt AS to_state
        |  FROM st WHERE nxt IS NOT NULL
        |  UNION ALL
        |  SELECT '__START__' AS from_state, event_type AS to_state
        |  FROM st WHERE rn = 1
        |  UNION ALL
        |  SELECT event_type AS from_state, '__END__' AS to_state
        |  FROM st WHERE nxt IS NULL
        |), c AS (
        |  SELECT from_state, to_state, COUNT(*) AS n FROM tr GROUP BY 1, 2
        |), t AS (
        |  SELECT from_state, SUM(n) AS tot FROM c GROUP BY 1
        |)
        |SELECT c.from_state, c.to_state, c.n,
        |  ROUND(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS p6
        |FROM c JOIN t USING (from_state)
        |ORDER BY from_state, to_state""".stripMargin,
    "q121_pmi_collocations" ->
      """WITH tk AS (
        |  SELECT string_split_regex(trim(text), ' +') AS toks FROM documents
        |), uni AS (
        |  SELECT w, COUNT(*) AS c FROM (
        |    SELECT UNNEST(toks) AS w FROM tk
        |  ) GROUP BY w
        |), tot AS (
        |  SELECT SUM(c) AS n FROM uni
        |), bgl AS (
        |  SELECT UNNEST(list_transform(range(len(toks) - 1), i ->
        |    {'w1': toks[CAST(i + 1 AS INT)],
        |     'w2': toks[CAST(i + 2 AS INT)]})) AS bg
        |  FROM tk WHERE len(toks) >= 2
        |), p AS (
        |  SELECT bg.w1 AS w1, bg.w2 AS w2, COUNT(*) AS pair_n
        |  FROM bgl GROUP BY 1, 2 HAVING COUNT(*) >= 5
        |)
        |SELECT p.w1, p.w2, p.pair_n, u1.c AS w1_n, u2.c AS w2_n,
        |  ROUND(ln(CAST(p.pair_n AS DOUBLE) * (SELECT CAST(n AS DOUBLE) FROM tot)
        |    / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))), 6) AS pmi6
        |FROM p
        |JOIN uni u1 ON u1.w = p.w1
        |JOIN uni u2 ON u2.w = p.w2
        |ORDER BY w1, w2""".stripMargin,
    "q120_triangles" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), pairs AS (
        |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM li x JOIN li y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |), deg AS (
        |  SELECT v, COUNT(*) AS degree FROM (
        |    SELECT a AS v FROM pairs UNION ALL SELECT b AS v FROM pairs
        |  ) GROUP BY v
        |), tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM pairs e1
        |  JOIN pairs e2 ON e1.b = e2.a
        |  JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
        |), pn AS (
        |  SELECT node, COUNT(*) AS n_tri FROM (
        |    SELECT x AS node FROM tri
        |    UNION ALL SELECT y AS node FROM tri
        |    UNION ALL SELECT z AS node FROM tri
        |  ) GROUP BY node
        |)
        |SELECT d.v AS node, d.degree, COALESCE(pn.n_tri, 0) AS n_tri,
        |  ROUND(CASE WHEN d.degree >= 2
        |    THEN 2.0 * COALESCE(pn.n_tri, 0) / (d.degree * (d.degree - 1.0))
        |    ELSE 0.0 END, 6) AS cc6
        |FROM deg d LEFT JOIN pn ON pn.node = d.v
        |ORDER BY node""".stripMargin,
    "q119_scd_build" ->
      """WITH ch AS (
        |  SELECT o_custkey AS key, o_orderdate AS ts,
        |    o_orderpriority AS priority,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
        |      ORDER BY o_orderkey DESC) AS rn
        |  FROM orders
        |), d AS (
        |  SELECT key, ts, priority FROM ch WHERE rn = 1
        |), m AS (
        |  SELECT key, ts, priority,
        |    LAG(priority) OVER (PARTITION BY key ORDER BY ts) AS prev
        |  FROM d
        |), k AS (
        |  SELECT key, ts, priority FROM m WHERE prev IS NULL OR prev <> priority
        |)
        |SELECT key, priority, epoch_us(ts) AS valid_from_us,
        |  COALESCE(epoch_us(LEAD(ts) OVER (PARTITION BY key ORDER BY ts)),
        |           epoch_us(TIMESTAMP '9999-01-01')) AS valid_to_us
        |FROM k ORDER BY key, valid_from_us""".stripMargin,
    "q118_rate_anomalies" ->
      """WITH c AS (
        |  SELECT (epoch_us(date_trunc('microseconds', ts)) // 300000000)
        |           * 300000000 AS window_start_us,
        |    event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |), w AS (
        |  SELECT window_start_us, event_type, n,
        |    AVG(CAST(n AS DOUBLE)) OVER pre AS mu,
        |    STDDEV_SAMP(CAST(n AS DOUBLE)) OVER pre AS sd,
        |    COUNT(*) OVER pre AS np
        |  FROM c
        |  WINDOW pre AS (PARTITION BY event_type ORDER BY window_start_us
        |    ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT window_start_us, event_type, n,
        |  ROUND(mu, 6) AS base_mean6, ROUND(sd, 6) AS base_sd6,
        |  CAST(np AS INT) AS n_prior,
        |  (np >= 3 AND sd IS NOT NULL
        |    AND CAST(n AS DOUBLE) > ROUND(mu + 3.0 * sd, 6)) AS anomalous
        |FROM w ORDER BY event_type, window_start_us""".stripMargin,
    "q117_stream_top_users" ->
      """WITH w AS (
        |  SELECT (epoch_us(date_trunc('microseconds', ts)) // 300000000)
        |           * 300000000 AS ws,
        |    user_id
        |  FROM events
        |), c AS (
        |  SELECT ws, user_id, COUNT(*) AS n FROM w GROUP BY ws, user_id
        |), r AS (
        |  SELECT ws, user_id, n,
        |    ROW_NUMBER() OVER (PARTITION BY ws
        |      ORDER BY n DESC, user_id) AS rnk
        |  FROM c
        |)
        |SELECT ws AS window_start_us, CAST(rnk AS INT) AS rank, user_id, n
        |FROM r WHERE rnk <= 3
        |ORDER BY window_start_us, rank""".stripMargin,
    "q116_scd_join" -> scdJoinOracle,
    // the streamed enrichment is held to the batch join's verbatim
    // ground truth (enrichment is per-fact-row independent)
    "q224_stream_scd_enrichment" -> scdJoinOracle,
    "q115_ivfpq_topk" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0
        |  UNION ALL
        |  SELECT unnest([1000000, 2000000, 3000000]) AS vec_id, embedding
        |  FROM embeddings WHERE vec_id = 0
        |), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.vec_id,
        |    list_sum(list_transform(list_zip(e.embedding, q.qv),
        |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(q.qv,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
        |  FROM corpus e CROSS JOIN q
        |)
        |SELECT vec_id, cosine FROM (
        |  SELECT vec_id, ROUND(c, 4) AS cosine FROM scored
        |  ORDER BY c DESC, vec_id LIMIT 3
        |) ORDER BY vec_id""".stripMargin,
    "q114_pq_adc_topk" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0
        |  UNION ALL
        |  SELECT unnest([1000000, 2000000, 3000000]) AS vec_id, embedding
        |  FROM embeddings WHERE vec_id = 0
        |), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.vec_id,
        |    list_sum(list_transform(list_zip(e.embedding, q.qv),
        |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(q.qv,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
        |  FROM corpus e CROSS JOIN q
        |)
        |SELECT vec_id, cosine FROM (
        |  SELECT vec_id, ROUND(c, 4) AS cosine FROM scored
        |  ORDER BY c DESC, vec_id LIMIT 3
        |) ORDER BY vec_id""".stripMargin,
    "q113_stream_neardup_gate" ->
      """WITH tk AS (
        |  SELECT doc_id, source = 'src0' AS s0,
        |    string_split_regex(trim(text), ' +') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, s0,
        |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |         ELSE list_distinct(list_transform(range(len(toks)-2), i ->
        |           toks[CAST(i+1 AS INT)] || '_' || toks[CAST(i+2 AS INT)]
        |             || '_' || toks[CAST(i+3 AS INT)])) END AS sh
        |  FROM tk
        |), cont AS (
        |  SELECT DISTINCT a.doc_id
        |  FROM s a JOIN s b ON (NOT a.s0) AND b.s0
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / NULLIF(CAST(len(a.sh) + len(b.sh)
        |          - len(list_intersect(a.sh, b.sh)) AS DOUBLE), 0.0) >= 0.5
        |)
        |SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d
        |WHERE d.source <> 'src0'
        |  AND d.doc_id NOT IN (SELECT doc_id FROM cont)
        |ORDER BY d.doc_id""".stripMargin,
    "q112_naive_bayes_gate" ->
      """WITH tk AS (
        |  SELECT doc_id, (lang = 'en') AS pos,
        |    unnest(string_split_regex(trim(text), ' +')) AS token
        |  FROM documents
        |), cc AS (
        |  SELECT token,
        |    SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cpos,
        |    SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS cneg
        |  FROM tk GROUP BY token
        |), scal AS (
        |  SELECT SUM(cpos) AS totpos, SUM(cneg) AS totneg, COUNT(*) AS v
        |  FROM cc
        |), nd AS (
        |  SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS npos,
        |    COUNT(*) AS ntot
        |  FROM documents
        |), lp AS (
        |  SELECT cc.token,
        |    ln((cc.cpos + 1.0) / (s.totpos + CAST(s.v AS DOUBLE))) AS lppos,
        |    ln((cc.cneg + 1.0) / (s.totneg + CAST(s.v AS DOUBLE))) AS lpneg
        |  FROM cc CROSS JOIN scal s
        |), dtf AS (
        |  SELECT doc_id, token, COUNT(*) AS tf FROM tk GROUP BY doc_id, token
        |), sc AS (
        |  SELECT dtf.doc_id, SUM(dtf.tf * (lp.lppos - lp.lpneg)) AS sd
        |  FROM dtf JOIN lp USING (token) GROUP BY dtf.doc_id
        |)
        |SELECT d.doc_id, (d.lang = 'en') AS label,
        |  ROUND(ln(CAST(nd.npos AS DOUBLE) / CAST(nd.ntot - nd.npos AS DOUBLE))
        |    + COALESCE(sc.sd, 0.0), 6) AS log_odds6,
        |  (ROUND(ln(CAST(nd.npos AS DOUBLE) / CAST(nd.ntot - nd.npos AS DOUBLE))
        |    + COALESCE(sc.sd, 0.0), 6) > 0) AS predicted
        |FROM documents d CROSS JOIN nd
        |LEFT JOIN sc ON d.doc_id = sc.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q111_remove_dup_spans" ->
      """WITH tk AS (
        |  SELECT doc_id, COALESCE(string_split_regex(trim(text), ' +'),
        |    CAST([] AS VARCHAR[])) AS toks
        |  FROM documents
        |), pg AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) < 5 THEN CAST([] AS VARCHAR[])
        |         ELSE list_transform(range(len(toks)-4), i ->
        |           array_to_string(toks[CAST(i+1 AS INT):CAST(i+5 AS INT)], ' '))
        |    END AS grams
        |  FROM tk
        |), gd AS (
        |  SELECT DISTINCT doc_id, unnest(grams) AS gram FROM pg
        |), dup AS (
        |  SELECT gram FROM gd GROUP BY gram HAVING COUNT(*) >= 2
        |), pos AS (
        |  SELECT doc_id, unnest(range(len(grams))) AS i,
        |    unnest(grams) AS gram
        |  FROM pg
        |), st AS (
        |  SELECT p.doc_id, p.i FROM pos p JOIN dup d ON p.gram = d.gram
        |), cov AS (
        |  SELECT DISTINCT doc_id, i + j AS p
        |  FROM st CROSS JOIN (SELECT unnest(range(5)) AS j)
        |), tpos AS (
        |  SELECT doc_id, unnest(range(len(toks))) AS p, unnest(toks) AS tok
        |  FROM tk
        |), kept AS (
        |  SELECT tp.doc_id,
        |    string_agg(tp.tok, ' ' ORDER BY tp.p) AS cleaned_text,
        |    COUNT(*) AS n_kept
        |  FROM tpos tp LEFT JOIN cov c
        |    ON tp.doc_id = c.doc_id AND tp.p = c.p
        |  WHERE c.p IS NULL GROUP BY tp.doc_id
        |)
        |SELECT tk.doc_id,
        |  CAST(len(tk.toks) AS INTEGER) AS n_tokens,
        |  CAST(len(tk.toks) - COALESCE(k.n_kept, 0) AS INTEGER) AS n_removed,
        |  COALESCE(k.cleaned_text, '') AS cleaned_text
        |FROM tk LEFT JOIN kept k ON tk.doc_id = k.doc_id
        |ORDER BY tk.doc_id""".stripMargin,
    "q104_dhash_neardup" ->
      """WITH m0 AS (
        |  SELECT doc_id AS media_id, hex(CAST(text AS BLOB)) AS hx
        |  FROM documents WHERE text IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id + 1000000, '00' || substr(hex(CAST(text AS BLOB)), 3)
        |  FROM documents WHERE text IS NOT NULL
        |), m AS (
        |  SELECT media_id, hx, length(hx)//2 AS len FROM m0
        |), c AS (
        |  SELECT media_id, len,
        |    list_transform(range(72), g ->
        |      CASE WHEN len = 0 THEN 0 ELSE
        |        (strpos('0123456789ABCDEF',
        |           substr(hx, CAST(((g*len)//72)*2 + 1 AS INT), 1)) - 1) * 16
        |        + (strpos('0123456789ABCDEF',
        |           substr(hx, CAST(((g*len)//72)*2 + 2 AS INT), 1)) - 1)
        |      END) AS cell
        |  FROM m
        |), p AS (
        |  SELECT media_id,
        |    CAST(list_sum(list_transform(range(32), b ->
        |      CASE WHEN cell[((b+32)//8)*9 + ((b+32)%8) + 1]
        |              < cell[((b+32)//8)*9 + ((b+32)%8) + 2]
        |        THEN 2**CAST(b AS INT) ELSE 0 END)) AS BIGINT) AS hi32,
        |    CAST(list_sum(list_transform(range(32), b ->
        |      CASE WHEN cell[(b//8)*9 + (b%8) + 1] < cell[(b//8)*9 + (b%8) + 2]
        |        THEN 2**CAST(b AS INT) ELSE 0 END)) AS BIGINT) AS lo32
        |  FROM c
        |), s AS (
        |  SELECT media_id,
        |    CASE WHEN hi32 >= 2147483648 THEN (hi32 - 4294967296)*4294967296 + lo32
        |         ELSE hi32*4294967296 + lo32 END AS sig
        |  FROM p
        |)
        |SELECT a.media_id AS id_a, b.media_id AS id_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        |FROM s a JOIN s b ON b.media_id > a.media_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "q100_bigram_lm" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
        |  FROM documents
        |), bgl AS (
        |  SELECT doc_id,
        |    UNNEST(list_transform(range(len(toks) - 1), i ->
        |      {'w1': toks[CAST(i + 1 AS INT)],
        |       'w2': toks[CAST(i + 2 AS INT)]})) AS bg
        |  FROM tk WHERE len(toks) >= 2
        |), bg AS (
        |  SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM bgl
        |), c2 AS (
        |  SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2
        |), c1 AS (
        |  SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1
        |)
        |SELECT bg.doc_id,
        |  COUNT(*) AS n_bigrams,
        |  ROUND(AVG(ln(CAST(c2.c2 AS DOUBLE) / CAST(c1.c1 AS DOUBLE))), 6)
        |    AS avg_logprob6
        |FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |GROUP BY bg.doc_id ORDER BY bg.doc_id""".stripMargin,
    "q305_pearson_ols" -> momentsOracle,
    "q306_incremental_moments" -> momentsOracle,
    "q307_stream_moments" -> momentsOracle,
    "q308_ols_by_lang" -> groupMomentsOracle,
    "q309_incremental_group_moments" -> groupMomentsOracle,
    "q310_stream_group_moments" -> groupMomentsOracle,
    "q311_wasserstein_drift" -> wassersteinOracle,
    "q312_stream_wasserstein" -> wassersteinOracle,
    "q313_js_divergence" -> jsdOracle,
    "q314_stream_jsd" -> jsdOracle,
    "q315_optimal_threshold" ->
      """WITH tk AS (
        |  SELECT doc_id, (lang = 'en') AS pos,
        |    unnest(string_split_regex(trim(text), ' +')) AS token
        |  FROM documents
        |), cc AS (
        |  SELECT token,
        |    SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cpos,
        |    SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS cneg
        |  FROM tk GROUP BY token
        |), scal AS (
        |  SELECT SUM(cpos) AS totpos, SUM(cneg) AS totneg, COUNT(*) AS v
        |  FROM cc
        |), nd AS (
        |  SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS npos,
        |    COUNT(*) AS ntot
        |  FROM documents
        |), lp AS (
        |  SELECT cc.token,
        |    ln((cc.cpos + 1.0) / (s.totpos + CAST(s.v AS DOUBLE))) AS lppos,
        |    ln((cc.cneg + 1.0) / (s.totneg + CAST(s.v AS DOUBLE))) AS lpneg
        |  FROM cc CROSS JOIN scal s
        |), dtf AS (
        |  SELECT doc_id, token, COUNT(*) AS tf FROM tk GROUP BY doc_id, token
        |), sc AS (
        |  SELECT dtf.doc_id, SUM(dtf.tf * (lp.lppos - lp.lpneg)) AS sd
        |  FROM dtf JOIN lp USING (token) GROUP BY dtf.doc_id
        |), scored AS (
        |  SELECT d.doc_id, (d.lang = 'en') AS label,
        |    ROUND(ln(CAST(nd.npos AS DOUBLE) / CAST(nd.ntot - nd.npos AS DOUBLE))
        |      + COALESCE(sc.sd, 0.0), 6) AS s
        |  FROM documents d CROSS JOIN nd
        |  LEFT JOIN sc ON d.doc_id = sc.doc_id
        |), cnt AS (
        |  SELECT s, SUM(CASE WHEN label THEN 1 ELSE 0 END) AS cp,
        |    SUM(CASE WHEN label THEN 0 ELSE 1 END) AS cn
        |  FROM scored GROUP BY s
        |), tot AS (
        |  SELECT CAST(SUM(cp) AS BIGINT) AS p, CAST(SUM(cn) AS BIGINT) AS nn,
        |    MIN(s) AS mins
        |  FROM cnt
        |), cum AS (
        |  SELECT s, SUM(cp) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccp,
        |    SUM(cn) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccn
        |  FROM cnt
        |), cand AS (
        |  SELECT s AS threshold, CAST(t.p - ccp AS BIGINT) AS tp,
        |    CAST(t.nn - ccn AS BIGINT) AS fp, CAST(ccp AS BIGINT) AS fn,
        |    CAST(ccn AS BIGINT) AS tn
        |  FROM cum, tot t
        |  UNION ALL
        |  SELECT t.mins - 1.0, t.p, t.nn, CAST(0 AS BIGINT),
        |    CAST(0 AS BIGINT)
        |  FROM tot t
        |), obj AS (
        |  SELECT *, CASE WHEN 2*tp + fp + fn <> 0
        |    THEN CAST(2*tp AS DOUBLE) / CAST(2*tp + fp + fn AS DOUBLE)
        |    ELSE 0.0 END AS o
        |  FROM cand
        |)
        |SELECT 'f1' AS objective, threshold, tp, fp, fn, tn,
        |  ROUND(o, 6) AS obj6
        |FROM obj ORDER BY o DESC, threshold LIMIT 1""".stripMargin,
    "q316_mann_whitney" -> mannWhitneyOracle,
    "q317_stream_mann_whitney" -> mannWhitneyOracle,
    "q318_cvm_drift" -> cvmOracle,
    "q319_stream_cvm" -> cvmOracle,
    "q321_group_ks" -> groupKsOracle,
    "q322_stream_group_ks" -> groupKsOracle,
    "q324_group_wasserstein" -> groupWassersteinOracle,
    "q325_stream_group_wasserstein" -> groupWassersteinOracle,
    "q326_change_point" -> changePointOracle,
    "q329_stream_change_point" -> changePointOracle,
    "q331_group_jsd" -> groupJsdOracle,
    "q332_stream_group_jsd" -> groupJsdOracle,
    "q333_hellinger" -> hellingerOracle,
    "q334_stream_hellinger" -> hellingerOracle,
    "q335_quantile_shift" -> quantileShiftOracle,
    "q336_stream_quantile_shift" -> quantileShiftOracle,
    "q338_group_mann_whitney" -> groupMannWhitneyOracle,
    "q339_stream_group_mwu" -> groupMannWhitneyOracle,
    "q340_group_cvm" -> groupCvmOracle,
    "q341_stream_group_cvm" -> groupCvmOracle,
    "q342_weighted_ols" ->
      """WITH b AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS x,
        |    CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
        |      AS y,
        |    CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS w
        |  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL
        |), bw AS (
        |  SELECT x, y, w, CAST(w AS DOUBLE) AS wd FROM b WHERE w <> 0
        |), s AS (
        |  SELECT CAST(SUM(w) AS BIGINT) AS n,
        |    CAST(SUM(CAST(ROUND(wd * x, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS sx,
        |    CAST(SUM(CAST(ROUND(wd * y, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS sy,
        |    CAST(SUM(CAST(ROUND(wd * (x*x), 12) AS DECIMAL(38,12)))
        |      AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(ROUND(wd * (y*y), 12) AS DECIMAL(38,12)))
        |      AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(ROUND(wd * (x*y), 12) AS DECIMAL(38,12)))
        |      AS DOUBLE) AS sxy
        |  FROM bw
        |), f AS (
        |  SELECT n, sx, sy, CAST(n AS DOUBLE) AS nd,
        |    CAST(n AS DOUBLE) * sxy - sx * sy AS covn,
        |    CAST(n AS DOUBLE) * sxx - sx * sx AS varxn,
        |    CAST(n AS DOUBLE) * syy - sy * sy AS varyn
        |  FROM s
        |)
        |SELECT n, ROUND(sx / nd, 6) AS mean_x6, ROUND(sy / nd, 6) AS mean_y6,
        |  CASE WHEN varxn > 0 AND varyn > 0
        |    THEN ROUND(covn / sqrt(varxn * varyn), 6) END AS pearson_r6,
        |  CASE WHEN varxn > 0 THEN ROUND(covn / varxn, 6) END AS slope6,
        |  CASE WHEN varxn > 0
        |    THEN ROUND((sy - (covn / varxn) * sx) / nd, 6) END AS intercept6
        |FROM f""".stripMargin,
    "q343_group_hellinger" -> groupHellingerOracle,
    "q344_stream_group_hellinger" -> groupHellingerOracle,
    "q347_group_quantile_shift" -> groupQuantileShiftOracle,
    "q348_stream_group_quantile_shift" -> groupQuantileShiftOracle,
    "q345_group_benford" ->
      """WITH digits AS (
        |  SELECT o_orderpriority AS g,
        |    regexp_extract(
        |      CAST(CAST(o_totalprice AS DECIMAL(38,12)) AS VARCHAR),
        |      '[1-9]', 0) AS d
        |  FROM orders
        |), dd AS (
        |  SELECT g, CAST(d AS INT) AS digit,
        |    CAST(COUNT(*) AS BIGINT) AS n_obs
        |  FROM digits WHERE d IS NOT NULL AND d <> '' GROUP BY 1, 2
        |), t AS (
        |  SELECT g, CAST(SUM(n_obs) AS BIGINT) AS n FROM dd GROUP BY g
        |), grid AS (
        |  SELECT t.g, t.n, CAST(UNNEST(range(1, 10)) AS INT) AS digit
        |  FROM t
        |)
        |SELECT gr.g, gr.digit, COALESCE(dd.n_obs, 0) AS n_obs,
        |  ROUND(CAST(COALESCE(dd.n_obs, 0) AS DOUBLE)
        |    / CAST(gr.n AS DOUBLE), 6) AS obs_p6,
        |  ROUND(ln(1.0 + 1.0 / CAST(gr.digit AS DOUBLE)) / ln(10.0), 6)
        |    AS exp_p6,
        |  ROUND(ABS(CAST(COALESCE(dd.n_obs, 0) AS DOUBLE)
        |      / CAST(gr.n AS DOUBLE)
        |    - ln(1.0 + 1.0 / CAST(gr.digit AS DOUBLE)) / ln(10.0)), 6)
        |    AS dev6
        |FROM grid gr LEFT JOIN dd
        |ON gr.g IS NOT DISTINCT FROM dd.g AND gr.digit = dd.digit
        |ORDER BY gr.g, gr.digit""".stripMargin,
    "q346_group_threshold" ->
      """WITH scored AS (
        |  SELECT lang AS g, (n_chars >= 100) AS label,
        |    CAST(len(string_split_regex(trim(text), ' +')) AS DOUBLE) AS s
        |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL
        |), cnt AS (
        |  SELECT g, s, SUM(CASE WHEN label THEN 1 ELSE 0 END) AS cp,
        |    SUM(CASE WHEN label THEN 0 ELSE 1 END) AS cn
        |  FROM scored GROUP BY g, s
        |), tot AS (
        |  SELECT g, CAST(SUM(cp) AS BIGINT) AS p,
        |    CAST(SUM(cn) AS BIGINT) AS nn, MIN(s) AS mins
        |  FROM cnt GROUP BY g
        |), cum AS (
        |  SELECT g, s,
        |    SUM(cp) OVER (PARTITION BY g ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccp,
        |    SUM(cn) OVER (PARTITION BY g ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccn
        |  FROM cnt
        |), cand AS (
        |  SELECT c.g, c.s AS threshold, CAST(t.p - ccp AS BIGINT) AS tp,
        |    CAST(t.nn - ccn AS BIGINT) AS fp, CAST(ccp AS BIGINT) AS fn,
        |    CAST(ccn AS BIGINT) AS tn
        |  FROM cum c JOIN tot t ON c.g IS NOT DISTINCT FROM t.g
        |  UNION ALL
        |  SELECT g, mins - 1.0, p, nn, CAST(0 AS BIGINT),
        |    CAST(0 AS BIGINT)
        |  FROM tot
        |), objd AS (
        |  SELECT *, CASE WHEN 2*tp + fp + fn <> 0
        |    THEN CAST(2*tp AS DOUBLE) / CAST(2*tp + fp + fn AS DOUBLE)
        |    ELSE 0.0 END AS o
        |  FROM cand
        |), ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY g
        |    ORDER BY o DESC, threshold) AS rn
        |  FROM objd
        |)
        |SELECT g, 'f1' AS objective, threshold, tp, fp, fn, tn,
        |  ROUND(o, 6) AS obj6
        |FROM ranked WHERE rn = 1 ORDER BY g""".stripMargin,
    "q337_corr_matrix" ->
      """WITH b AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS x1,
        |    CASE WHEN text IS NOT NULL THEN
        |      CAST(len(string_split_regex(trim(text), ' +')) AS DOUBLE)
        |    END AS x2,
        |    CASE WHEN text IS NOT NULL THEN
        |      CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
        |    END AS x3
        |  FROM documents
        |), pairs AS (
        |  SELECT 'n_chars' AS x_col, 'n_tokens' AS y_col,
        |    CAST(COUNT(CASE WHEN x1 IS NOT NULL AND x2 IS NOT NULL
        |      THEN 1 END) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN x1 IS NOT NULL AND x2 IS NOT NULL
        |      THEN CAST(ROUND(x1, 12) AS DECIMAL(38,12)) END) AS DOUBLE) AS sx,
        |    CAST(SUM(CASE WHEN x1 IS NOT NULL AND x2 IS NOT NULL
        |      THEN CAST(ROUND(x2, 12) AS DECIMAL(38,12)) END) AS DOUBLE) AS sy,
        |    CAST(SUM(CASE WHEN x1 IS NOT NULL AND x2 IS NOT NULL
        |      THEN CAST(ROUND(x1*x1, 12) AS DECIMAL(38,12)) END) AS DOUBLE)
        |      AS sxx,
        |    CAST(SUM(CASE WHEN x1 IS NOT NULL AND x2 IS NOT NULL
        |      THEN CAST(ROUND(x2*x2, 12) AS DECIMAL(38,12)) END) AS DOUBLE)
        |      AS syy,
        |    CAST(SUM(CASE WHEN x1 IS NOT NULL AND x2 IS NOT NULL
        |      THEN CAST(ROUND(x1*x2, 12) AS DECIMAL(38,12)) END) AS DOUBLE)
        |      AS sxy
        |  FROM b
        |  UNION ALL
        |  SELECT 'n_chars', 'n_upper',
        |    CAST(COUNT(CASE WHEN x1 IS NOT NULL AND x3 IS NOT NULL
        |      THEN 1 END) AS BIGINT),
        |    CAST(SUM(CASE WHEN x1 IS NOT NULL AND x3 IS NOT NULL
        |      THEN CAST(ROUND(x1, 12) AS DECIMAL(38,12)) END) AS DOUBLE),
        |    CAST(SUM(CASE WHEN x1 IS NOT NULL AND x3 IS NOT NULL
        |      THEN CAST(ROUND(x3, 12) AS DECIMAL(38,12)) END) AS DOUBLE),
        |    CAST(SUM(CASE WHEN x1 IS NOT NULL AND x3 IS NOT NULL
        |      THEN CAST(ROUND(x1*x1, 12) AS DECIMAL(38,12)) END) AS DOUBLE),
        |    CAST(SUM(CASE WHEN x1 IS NOT NULL AND x3 IS NOT NULL
        |      THEN CAST(ROUND(x3*x3, 12) AS DECIMAL(38,12)) END) AS DOUBLE),
        |    CAST(SUM(CASE WHEN x1 IS NOT NULL AND x3 IS NOT NULL
        |      THEN CAST(ROUND(x1*x3, 12) AS DECIMAL(38,12)) END) AS DOUBLE)
        |  FROM b
        |  UNION ALL
        |  SELECT 'n_tokens', 'n_upper',
        |    CAST(COUNT(CASE WHEN x2 IS NOT NULL AND x3 IS NOT NULL
        |      THEN 1 END) AS BIGINT),
        |    CAST(SUM(CASE WHEN x2 IS NOT NULL AND x3 IS NOT NULL
        |      THEN CAST(ROUND(x2, 12) AS DECIMAL(38,12)) END) AS DOUBLE),
        |    CAST(SUM(CASE WHEN x2 IS NOT NULL AND x3 IS NOT NULL
        |      THEN CAST(ROUND(x3, 12) AS DECIMAL(38,12)) END) AS DOUBLE),
        |    CAST(SUM(CASE WHEN x2 IS NOT NULL AND x3 IS NOT NULL
        |      THEN CAST(ROUND(x2*x2, 12) AS DECIMAL(38,12)) END) AS DOUBLE),
        |    CAST(SUM(CASE WHEN x2 IS NOT NULL AND x3 IS NOT NULL
        |      THEN CAST(ROUND(x3*x3, 12) AS DECIMAL(38,12)) END) AS DOUBLE),
        |    CAST(SUM(CASE WHEN x2 IS NOT NULL AND x3 IS NOT NULL
        |      THEN CAST(ROUND(x2*x3, 12) AS DECIMAL(38,12)) END) AS DOUBLE)
        |  FROM b
        |), f AS (
        |  SELECT x_col, y_col, n,
        |    CAST(n AS DOUBLE) * sxy - sx * sy AS covn,
        |    CAST(n AS DOUBLE) * sxx - sx * sx AS varxn,
        |    CAST(n AS DOUBLE) * syy - sy * sy AS varyn
        |  FROM pairs
        |)
        |SELECT x_col, y_col, n,
        |  CASE WHEN n >= 2 AND varxn > 0 AND varyn > 0
        |    THEN ROUND(covn / sqrt(varxn * varyn), 6) END AS pearson_r6
        |FROM f ORDER BY x_col, y_col""".stripMargin,
    "q330_benford" ->
      """WITH digits AS (
        |  SELECT regexp_extract(
        |    CAST(CAST(o_totalprice AS DECIMAL(38,12)) AS VARCHAR),
        |    '[1-9]', 0) AS d
        |  FROM orders
        |), dd AS (
        |  SELECT CAST(d AS INT) AS digit, CAST(COUNT(*) AS BIGINT) AS n_obs
        |  FROM digits WHERE d IS NOT NULL AND d <> '' GROUP BY 1
        |), t AS (
        |  SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM dd
        |), grid AS (
        |  SELECT CAST(UNNEST(range(1, 10)) AS INT) AS digit
        |)
        |SELECT g.digit, COALESCE(dd.n_obs, 0) AS n_obs,
        |  ROUND(CAST(COALESCE(dd.n_obs, 0) AS DOUBLE)
        |    / CAST(t.n AS DOUBLE), 6) AS obs_p6,
        |  ROUND(ln(1.0 + 1.0 / CAST(g.digit AS DOUBLE)) / ln(10.0), 6)
        |    AS exp_p6,
        |  ROUND(ABS(CAST(COALESCE(dd.n_obs, 0) AS DOUBLE)
        |      / CAST(t.n AS DOUBLE)
        |    - ln(1.0 + 1.0 / CAST(g.digit AS DOUBLE)) / ln(10.0)), 6)
        |    AS dev6
        |FROM grid g LEFT JOIN dd ON g.digit = dd.digit, t
        |ORDER BY g.digit""".stripMargin,
    "q328_group_change_point" ->
      """WITH d AS (
        |  SELECT event_type AS g,
        |    strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    CAST(SUM(CAST(ROUND(value, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS dv
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), s AS (
        |  SELECT g, day,
        |    CAST(CAST(ROUND(dv, 6) AS DECIMAL(28,6)) * 1000000 AS BIGINT)
        |      AS vl,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY day) - 1 AS rid
        |  FROM d
        |), c AS (
        |  SELECT g, day, rid,
        |    SUM(vl) OVER (PARTITION BY g ORDER BY rid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sk,
        |    COUNT(*) OVER (PARTITION BY g) AS n,
        |    SUM(vl) OVER (PARTITION BY g) AS sn
        |  FROM s
        |), nums AS (
        |  SELECT g, day, rid, n,
        |    ABS(CAST(sk AS HUGEINT) * n
        |      - CAST(rid + 1 AS HUGEINT) * sn) AS num
        |  FROM c
        |), ranked AS (
        |  SELECT g, CAST(n AS BIGINT) AS n, CAST(rid + 1 AS BIGINT) AS k,
        |    day,
        |    ROUND(CAST(num AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * 1000000.0), 6) AS cusum6,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY num DESC, rid) AS rn
        |  FROM nums
        |)
        |SELECT g, n, k, day, cusum6 FROM ranked WHERE rn = 1
        |ORDER BY g""".stripMargin,
    "q327_group_autocorr" ->
      """WITH d AS (
        |  SELECT event_type AS g, date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(ROUND(value, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS dv
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), lagd AS (
        |  SELECT g, dv AS y,
        |    LAG(dv) OVER (PARTITION BY g ORDER BY day) AS x
        |  FROM d
        |), b AS (
        |  SELECT g, x, y FROM lagd WHERE x IS NOT NULL
        |), s AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(ROUND(x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(ROUND(y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(ROUND(x*x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(ROUND(y*y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(ROUND(x*y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy
        |  FROM b GROUP BY g
        |), f AS (
        |  SELECT g, n, sx, sy, CAST(n AS DOUBLE) AS nd,
        |    CAST(n AS DOUBLE) * sxy - sx * sy AS covn,
        |    CAST(n AS DOUBLE) * sxx - sx * sx AS varxn,
        |    CAST(n AS DOUBLE) * syy - sy * sy AS varyn
        |  FROM s
        |)
        |SELECT g, n, ROUND(sx / nd, 6) AS mean_x6, ROUND(sy / nd, 6) AS mean_y6,
        |  CASE WHEN n >= 2 AND varxn > 0 AND varyn > 0
        |    THEN ROUND(covn / sqrt(varxn * varyn), 6) END AS pearson_r6,
        |  CASE WHEN n >= 2 AND varxn > 0
        |    THEN ROUND(covn / varxn, 6) END AS slope6,
        |  CASE WHEN n >= 2 AND varxn > 0
        |    THEN ROUND((sy - (covn / varxn) * sx) / nd, 6) END AS intercept6
        |FROM f ORDER BY g""".stripMargin,
    "q323_daily_autocorr" ->
      """WITH d AS (
        |  SELECT date_trunc('day', ts) AS day,
        |    CAST(SUM(CAST(ROUND(value, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS dv
        |  FROM events WHERE value IS NOT NULL GROUP BY 1
        |), lagd AS (
        |  SELECT LAG(dv) OVER (ORDER BY day) AS x, dv AS y FROM d
        |), b AS (
        |  SELECT x, y FROM lagd WHERE x IS NOT NULL
        |), s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(ROUND(x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(ROUND(y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(ROUND(x*x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(ROUND(y*y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(ROUND(x*y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy
        |  FROM b
        |), f AS (
        |  SELECT n, sx, sy, CAST(n AS DOUBLE) AS nd,
        |    CAST(n AS DOUBLE) * sxy - sx * sy AS covn,
        |    CAST(n AS DOUBLE) * sxx - sx * sx AS varxn,
        |    CAST(n AS DOUBLE) * syy - sy * sy AS varyn
        |  FROM s
        |)
        |SELECT n, ROUND(sx / nd, 6) AS mean_x6, ROUND(sy / nd, 6) AS mean_y6,
        |  CASE WHEN varxn > 0 AND varyn > 0
        |    THEN ROUND(covn / sqrt(varxn * varyn), 6) END AS pearson_r6,
        |  CASE WHEN varxn > 0 THEN ROUND(covn / varxn, 6) END AS slope6,
        |  CASE WHEN varxn > 0
        |    THEN ROUND((sy - (covn / varxn) * sx) / nd, 6) END AS intercept6
        |FROM f""".stripMargin,
    "q320_average_precision" ->
      """WITH tk AS (
        |  SELECT doc_id, (lang = 'en') AS pos,
        |    unnest(string_split_regex(trim(text), ' +')) AS token
        |  FROM documents
        |), cc AS (
        |  SELECT token,
        |    SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cpos,
        |    SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS cneg
        |  FROM tk GROUP BY token
        |), scal AS (
        |  SELECT SUM(cpos) AS totpos, SUM(cneg) AS totneg, COUNT(*) AS v
        |  FROM cc
        |), nd AS (
        |  SELECT SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS npos,
        |    COUNT(*) AS ntot
        |  FROM documents
        |), lp AS (
        |  SELECT cc.token,
        |    ln((cc.cpos + 1.0) / (s.totpos + CAST(s.v AS DOUBLE))) AS lppos,
        |    ln((cc.cneg + 1.0) / (s.totneg + CAST(s.v AS DOUBLE))) AS lpneg
        |  FROM cc CROSS JOIN scal s
        |), dtf AS (
        |  SELECT doc_id, token, COUNT(*) AS tf FROM tk GROUP BY doc_id, token
        |), sc AS (
        |  SELECT dtf.doc_id, SUM(dtf.tf * (lp.lppos - lp.lpneg)) AS sd
        |  FROM dtf JOIN lp USING (token) GROUP BY dtf.doc_id
        |), scored AS (
        |  SELECT d.doc_id, (d.lang = 'en') AS label,
        |    ROUND(ln(CAST(nd.npos AS DOUBLE) / CAST(nd.ntot - nd.npos AS DOUBLE))
        |      + COALESCE(sc.sd, 0.0), 6) AS s
        |  FROM documents d CROSS JOIN nd
        |  LEFT JOIN sc ON d.doc_id = sc.doc_id
        |), cnt AS (
        |  SELECT s, SUM(CASE WHEN label THEN 1 ELSE 0 END) AS cp,
        |    SUM(CASE WHEN label THEN 0 ELSE 1 END) AS cn
        |  FROM scored GROUP BY s
        |), tot AS (
        |  SELECT CAST(SUM(cp) AS BIGINT) AS p, CAST(SUM(cn) AS BIGINT) AS nn
        |  FROM cnt
        |), cum AS (
        |  SELECT s, cp,
        |    COALESCE(SUM(cp) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pp,
        |    COALESCE(SUM(cn) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pn
        |  FROM cnt
        |), terms AS (
        |  SELECT CAST(ROUND((CAST(cp AS DOUBLE) / CAST(t.p AS DOUBLE))
        |      * (CAST(t.p - pp AS DOUBLE)
        |        / (CAST(t.p - pp AS DOUBLE) + CAST(t.nn - pn AS DOUBLE))),
        |      12) AS DECIMAL(38,12)) AS tt
        |  FROM cum, tot t
        |)
        |SELECT t.p AS n_pos, t.nn AS n_neg,
        |  ROUND(CAST(SUM(tt) AS DOUBLE), 6) AS ap6
        |FROM terms, tot t GROUP BY t.p, t.nn""".stripMargin,
    "q349_url_dedup" -> (urlDedupOracleCte +
      "\nSELECT url, first_doc_id FROM dedup ORDER BY url"),
    // the incremental ledger fold is held to the batch recompute —
    // the q131/q133 maintained-family pattern
    "q359_incremental_url_dedup" -> (urlDedupOracleCte +
      "\nSELECT url, first_doc_id FROM dedup ORDER BY url"),
    "q366_stream_url_dedup" -> (urlDedupOracleCte +
      "\nSELECT url, first_doc_id FROM dedup ORDER BY url"),
    "q358_domain_cap" -> (urlDedupOracleCte + s"""
       |, dom AS (
       |  SELECT doc_id, host,
       |    COALESCE(substr(list_aggregate(list_transform(list_filter(
       |      [${Q350Suffixes.map(s => s"'$s'").mkString(", ")}],
       |      s -> host = s OR ends_with(host, '.' || s)),
       |      s -> lpad(CAST(length(s) AS VARCHAR), 4, '0') || ':' || s),
       |      'max'), 6),
       |      regexp_extract(host, '([^.]*)$$', 1)) AS suf
       |  FROM comp
       |), reg AS (
       |  SELECT doc_id,
       |    CASE WHEN host = suf OR lastl = '' THEN NULL
       |         ELSE lastl || '.' || suf END AS domain
       |  FROM (SELECT doc_id, host, suf,
       |      regexp_extract(
       |        CASE WHEN length(host) - length(suf) - 1 > 0
       |             THEN substr(host, 1, length(host) - length(suf) - 1)
       |             ELSE '' END, '([^.]*)$$', 1) AS lastl
       |    FROM dom)
       |), tt AS (
       |  SELECT COUNT(*) AS n FROM reg
       |), rk AS (
       |  SELECT doc_id, domain,
       |    ROW_NUMBER() OVER (PARTITION BY domain
       |      ORDER BY ${hash32Sql("'cap1:' || CAST(doc_id AS VARCHAR)")},
       |        doc_id) - 1 AS rk
       |  FROM reg
       |), cap AS (
       |  SELECT GREATEST(1, CAST(FLOOR(0.01 * n) AS BIGINT)) AS c FROM tt
       |)
       |SELECT domain, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc_id
       |FROM rk, cap WHERE rk < cap.c
       |GROUP BY domain ORDER BY domain""".stripMargin),
    "q350_domain_rollup" -> (urlDedupOracleCte + s"""
       |, dom AS (
       |  SELECT first_doc_id,
       |    lower(regexp_extract(regexp_extract(url,
       |      '${graft.functions.UrlFunctions.UrlRe}', 2),
       |      '${graft.functions.UrlFunctions.HostRe}', 1)) AS host
       |  FROM dedup
       |), eff AS (
       |  SELECT first_doc_id, host,
       |    COALESCE(substr(list_aggregate(list_transform(list_filter(
       |      [${Q350Suffixes.map(s => s"'$s'").mkString(", ")}],
       |      s -> host = s OR ends_with(host, '.' || s)),
       |      s -> lpad(CAST(length(s) AS VARCHAR), 4, '0') || ':' || s),
       |      'max'), 6),
       |      regexp_extract(host, '([^.]*)$$', 1)) AS suf
       |  FROM dom
       |), reg AS (
       |  SELECT first_doc_id,
       |    CASE WHEN host = suf OR lastl = '' THEN NULL
       |         ELSE lastl || '.' || suf END AS domain
       |  FROM (SELECT first_doc_id, host, suf,
       |      regexp_extract(
       |        CASE WHEN length(host) - length(suf) - 1 > 0
       |             THEN substr(host, 1, length(host) - length(suf) - 1)
       |             ELSE '' END, '([^.]*)$$', 1) AS lastl
       |    FROM eff)
       |)
       |SELECT domain, COUNT(*) AS n_urls, MIN(first_doc_id) AS first_doc_id
       |FROM reg GROUP BY domain ORDER BY domain""".stripMargin),
    "q364_spearman_rho" ->
      """WITH b AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS x,
        |    CASE WHEN text IS NOT NULL THEN
        |      CAST(len(string_split_regex(trim(text), ' +')) AS DOUBLE)
        |    END AS y
        |  FROM documents
        |), rws AS (
        |  SELECT x, y FROM b WHERE x IS NOT NULL AND y IS NOT NULL
        |), gx AS (
        |  SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM rws GROUP BY x
        |), rx AS (
        |  SELECT x,
        |    CAST(COALESCE(SUM(cnt) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS DOUBLE) + (CAST(cnt AS DOUBLE) + 1.0) / 2.0 AS ra
        |  FROM gx
        |), gy AS (
        |  SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt FROM rws GROUP BY y
        |), ry AS (
        |  SELECT y,
        |    CAST(COALESCE(SUM(cnt) OVER (ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS DOUBLE) + (CAST(cnt AS DOUBLE) + 1.0) / 2.0 AS rb
        |  FROM gy
        |), ranked AS (
        |  SELECT ra, rb FROM rws
        |  JOIN rx USING (x) JOIN ry USING (y)
        |), st AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(ROUND(ra, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS sx,
        |    CAST(SUM(CAST(ROUND(rb, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS sy,
        |    CAST(SUM(CAST(ROUND(ra*ra, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS sxx,
        |    CAST(SUM(CAST(ROUND(rb*rb, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS syy,
        |    CAST(SUM(CAST(ROUND(ra*rb, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS sxy
        |  FROM ranked
        |), f AS (
        |  SELECT n,
        |    CAST(n AS DOUBLE) * sxy - sx * sy AS covn,
        |    CAST(n AS DOUBLE) * sxx - sx * sx AS varxn,
        |    CAST(n AS DOUBLE) * syy - sy * sy AS varyn
        |  FROM st
        |)
        |SELECT n,
        |  CASE WHEN varxn > 0 AND varyn > 0
        |    THEN ROUND(covn / sqrt(varxn * varyn), 6) END AS spearman_rho6
        |FROM f""".stripMargin,
    "q365_group_spearman" ->
      """WITH b AS (
        |  SELECT lang AS g, CAST(n_chars AS DOUBLE) AS x,
        |    CASE WHEN text IS NOT NULL THEN
        |      CAST(len(string_split_regex(trim(text), ' +')) AS DOUBLE)
        |    END AS y
        |  FROM documents
        |), rws AS (
        |  SELECT g, x, y FROM b WHERE x IS NOT NULL AND y IS NOT NULL
        |), gx AS (
        |  SELECT g, x, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM rws GROUP BY g, x
        |), rx AS (
        |  SELECT g, x,
        |    CAST(COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS DOUBLE) + (CAST(cnt AS DOUBLE) + 1.0) / 2.0 AS ra
        |  FROM gx
        |), gy AS (
        |  SELECT g, y, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM rws GROUP BY g, y
        |), ry AS (
        |  SELECT g, y,
        |    CAST(COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS DOUBLE) + (CAST(cnt AS DOUBLE) + 1.0) / 2.0 AS rb
        |  FROM gy
        |), ranked AS (
        |  SELECT rws.g, ra, rb FROM rws
        |  JOIN rx ON rws.g IS NOT DISTINCT FROM rx.g AND rws.x = rx.x
        |  JOIN ry ON rws.g IS NOT DISTINCT FROM ry.g AND rws.y = ry.y
        |), st AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(ROUND(ra, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS sx,
        |    CAST(SUM(CAST(ROUND(rb, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS sy,
        |    CAST(SUM(CAST(ROUND(ra*ra, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS sxx,
        |    CAST(SUM(CAST(ROUND(rb*rb, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS syy,
        |    CAST(SUM(CAST(ROUND(ra*rb, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS sxy
        |  FROM ranked GROUP BY g
        |), f AS (
        |  SELECT g, n,
        |    CAST(n AS DOUBLE) * sxy - sx * sy AS covn,
        |    CAST(n AS DOUBLE) * sxx - sx * sx AS varxn,
        |    CAST(n AS DOUBLE) * syy - sy * sy AS varyn
        |  FROM st
        |)
        |SELECT g, n,
        |  CASE WHEN n >= 2 AND varxn > 0 AND varyn > 0
        |    THEN ROUND(covn / sqrt(varxn * varyn), 6) END AS spearman_rho6
        |FROM f ORDER BY g""".stripMargin,
    "q351_group_corr_matrix" -> s"""WITH b AS (
       |  SELECT lang AS g, CAST(n_chars AS DOUBLE) AS x1,
       |    CASE WHEN text IS NOT NULL THEN
       |      CAST(len(string_split_regex(trim(text), ' +')) AS DOUBLE)
       |    END AS x2,
       |    CASE WHEN text IS NOT NULL THEN
       |      CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
       |    END AS x3
       |  FROM documents
       |), pairs AS (
       |  ${groupCorrPairBranch("n_chars", "n_tokens", "x1", "x2")}
       |  UNION ALL
       |  ${groupCorrPairBranch("n_chars", "n_upper", "x1", "x3")}
       |  UNION ALL
       |  ${groupCorrPairBranch("n_tokens", "n_upper", "x2", "x3")}
       |), f AS (
       |  SELECT g, x_col, y_col, n,
       |    CAST(n AS DOUBLE) * sxy - sx * sy AS covn,
       |    CAST(n AS DOUBLE) * sxx - sx * sx AS varxn,
       |    CAST(n AS DOUBLE) * syy - sy * sy AS varyn
       |  FROM pairs
       |)
       |SELECT g, x_col, y_col, n,
       |  CASE WHEN n >= 2 AND varxn > 0 AND varyn > 0
       |    THEN ROUND(covn / sqrt(varxn * varyn), 6) END AS pearson_r6
       |FROM f ORDER BY g, x_col, y_col""".stripMargin,
    "q352_cuped_report" ->
      """WITH u0 AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN epoch_us(ts) < 1705363200000000
        |      THEN CAST(ROUND(value, 12) AS DECIMAL(38,12)) END)
        |      AS DOUBLE) AS x,
        |    CAST(SUM(CASE WHEN epoch_us(ts) >= 1705363200000000
        |      THEN CAST(ROUND(value, 12) AS DECIMAL(38,12)) END)
        |      AS DOUBLE) AS y
        |  FROM events WHERE value IS NOT NULL GROUP BY user_id
        |), u AS (
        |  SELECT * FROM u0 WHERE x IS NOT NULL AND y IS NOT NULL
        |), h AS (
        |  SELECT x, y,
        |    CAST(list_sum(list_transform(range(8), i ->
        |      (strpos('0123456789abcdef',
        |         substr(md5('cuped1:' || CAST(user_id AS VARCHAR)),
        |           CAST(i+1 AS INT), 1)) - 1)
        |        * 16**(7-i))) AS BIGINT) AS hv
        |  FROM u
        |), a AS (
        |  SELECT x, y,
        |    CASE WHEN hv < 2147483648 THEN 'control' ELSE 'treat' END AS arm
        |  FROM h
        |), st AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(ROUND(x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(ROUND(y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(ROUND(x*x, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS sxx,
        |    CAST(SUM(CAST(ROUND(x*y, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS sxy
        |  FROM a
        |), th AS (
        |  SELECT CASE WHEN CAST(n AS DOUBLE)*sxx - sx*sx > 0
        |    THEN (CAST(n AS DOUBLE)*sxy - sx*sy)
        |      / (CAST(n AS DOUBLE)*sxx - sx*sx)
        |    ELSE 0.0 END AS theta,
        |    sx / CAST(n AS DOUBLE) AS mux
        |  FROM st
        |), adj AS (
        |  SELECT arm, y, y - th.theta * (x - th.mux) AS ya, th.theta
        |  FROM a, th
        |), g AS (
        |  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n, MAX(theta) AS theta,
        |    CAST(SUM(CAST(ROUND(y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(ROUND(y*y, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS syy,
        |    CAST(SUM(CAST(ROUND(ya, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sa,
        |    CAST(SUM(CAST(ROUND(ya*ya, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS saa
        |  FROM adj GROUP BY arm
        |), f AS (
        |  SELECT arm, n, theta, CAST(n AS DOUBLE) AS nd, sy, syy, sa, saa,
        |    (CAST(n AS DOUBLE)*syy - sy*sy)
        |      / (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1.0)) AS vraw,
        |    (CAST(n AS DOUBLE)*saa - sa*sa)
        |      / (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1.0)) AS vadj
        |  FROM g
        |)
        |SELECT arm, n, ROUND(theta, 6) AS theta6,
        |  ROUND(sy / nd, 6) AS mean_raw6,
        |  ROUND(sa / nd, 6) AS mean_adj6,
        |  CASE WHEN n >= 2 THEN ROUND(vraw, 6) END AS var_raw6,
        |  CASE WHEN n >= 2 THEN ROUND(vadj, 6) END AS var_adj6,
        |  CASE WHEN n >= 2 THEN ROUND(sa/nd - 1.96*sqrt(
        |    (CASE WHEN vadj > 0 THEN vadj ELSE 0.0 END)/nd), 6) END AS lo6,
        |  CASE WHEN n >= 2 THEN ROUND(sa/nd + 1.96*sqrt(
        |    (CASE WHEN vadj > 0 THEN vadj ELSE 0.0 END)/nd), 6) END AS hi6
        |FROM f ORDER BY arm""".stripMargin,
    "q353_interval_alpha" -> s"""WITH $ordinalPairCte,
       |peri AS (
       |  SELECT it, MAX(ni) AS ni,
       |    CAST(SUM(CAST(ROUND(CAST(c AS DOUBLE) * v, 12)
       |      AS DECIMAL(38,12))) AS DOUBLE) AS sv,
       |    CAST(SUM(CAST(ROUND(CAST(c AS DOUBLE) * v * v, 12)
       |      AS DECIMAL(38,12))) AS DOUBLE) AS sv2
       |  FROM pair GROUP BY it
       |), so AS (
       |  SELECT SUM(CAST(ROUND(
       |    (CAST(ni AS DOUBLE) * sv2 - sv * sv)
       |      / CAST(ni - 1 AS DOUBLE), 12) AS DECIMAL(38,12))) AS s
       |  FROM peri
       |)
       |SELECT n_items, n_tot AS n_ratings, n_labels,
       |  'interval' AS metric,
       |  CASE WHEN CAST(n_tot AS DOUBLE) * snv2 - snv * snv = 0 THEN NULL
       |    ELSE ROUND(1.0 - CAST(n_tot - 1 AS DOUBLE) * CAST(so.s AS DOUBLE)
       |      / (CAST(n_tot AS DOUBLE) * snv2 - snv * snv), 6)
       |    END AS alpha6
       |FROM tot, so""".stripMargin,
    "q354_linear_alpha" -> s"""WITH $ordinalPairCte,
       |belw AS (
       |  SELECT it, v, c, ni,
       |    COALESCE(SUM(c) OVER (PARTITION BY it ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
       |    CAST(COALESCE(SUM(CAST(ROUND(CAST(c AS DOUBLE) * v, 12)
       |        AS DECIMAL(38,12)))
       |      OVER (PARTITION BY it ORDER BY v
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS DOUBLE) AS sb
       |  FROM pair
       |), perl AS (
       |  SELECT it, MAX(ni) AS ni,
       |    SUM(CAST(ROUND(CAST(c AS DOUBLE)
       |      * (v * CAST(cb AS DOUBLE) - sb), 12) AS DECIMAL(38,12))) AS t
       |  FROM belw GROUP BY it
       |), so AS (
       |  SELECT SUM(CAST(ROUND(CAST(t AS DOUBLE)
       |    / CAST(ni - 1 AS DOUBLE), 12) AS DECIMAL(38,12))) AS s
       |  FROM perl
       |), marg AS (
       |  SELECT v, CAST(SUM(c) AS BIGINT) AS ck FROM pair GROUP BY v
       |), mb AS (
       |  SELECT v, ck,
       |    COALESCE(SUM(ck) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
       |    CAST(COALESCE(SUM(CAST(ROUND(CAST(ck AS DOUBLE) * v, 12)
       |        AS DECIMAL(38,12)))
       |      OVER (ORDER BY v
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS DOUBLE) AS sb
       |  FROM marg
       |), se AS (
       |  SELECT CAST(SUM(CAST(ROUND(CAST(ck AS DOUBLE)
       |    * (v * CAST(cb AS DOUBLE) - sb), 12) AS DECIMAL(38,12)))
       |    AS DOUBLE) AS e
       |  FROM mb
       |)
       |SELECT n_items, n_tot AS n_ratings, n_labels, 'linear' AS metric,
       |  CASE WHEN se.e = 0 THEN NULL
       |    ELSE ROUND(1.0 - CAST(n_tot - 1 AS DOUBLE) * CAST(so.s AS DOUBLE)
       |      / se.e, 6) END AS alpha6
       |FROM tot, so, se""".stripMargin,
    "q355_kaplan_meier" -> kaplanMeierOracle,
    // the incremental fold and the streaming monitor are held to
    // the batch recompute (the q131/q133 pattern)
    "q360_incremental_km" -> kaplanMeierOracle,
    "q361_stream_km" -> kaplanMeierOracle,
    "q367_cumulative_incidence" ->
      s"""WITH $survivalSubjectsCte, s2 AS (
        |  SELECT t, CASE WHEN obs THEN 'converted'
        |    WHEN t <= 28 THEN 'stalled' END AS k
        |  FROM subj
        |), grid AS (
        |  SELECT t,
        |    CAST(SUM(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c
        |  FROM s2 GROUP BY t
        |), tot AS (
        |  SELECT CAST(SUM(d + c) AS BIGINT) AS total FROM grid
        |), pre AS (
        |  SELECT grid.t, grid.d, tot.total,
        |    CAST(COALESCE(SUM(d + c) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS p
        |  FROM grid, tot
        |), term AS (
        |  SELECT t, total - p AS n, d,
        |    CASE WHEN d > 0 AND d < total - p
        |      THEN CAST(CAST(ROUND(ln(1.0 - CAST(d AS DOUBLE)
        |          / CAST(total - p AS DOUBLE)), 12) AS DECIMAL(28,12))
        |        * 1000000000000 AS BIGINT)
        |      ELSE 0 END AS lt,
        |    CASE WHEN d = total - p THEN 1 ELSE 0 END AS z
        |  FROM pre
        |), cum AS (
        |  SELECT t, n,
        |    CAST(COALESCE(SUM(lt) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS lp,
        |    CAST(COALESCE(SUM(z) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS zp
        |  FROM term
        |), tinfo AS (
        |  SELECT t, n,
        |    CASE WHEN zp > 0 THEN 0.0
        |      ELSE exp(CAST(lp AS DOUBLE) / 1e12) END AS sm
        |  FROM cum
        |), cells AS (
        |  SELECT k, t, CAST(COUNT(*) AS BIGINT) AS dk
        |  FROM s2 WHERE k IS NOT NULL GROUP BY k, t
        |), wt AS (
        |  SELECT cells.k, cells.t, tinfo.n, cells.dk,
        |    CAST(CAST(ROUND(sm * CAST(dk AS DOUBLE) / CAST(n AS DOUBLE),
        |      12) AS DECIMAL(28,12)) * 1000000000000 AS BIGINT) AS ci
        |  FROM cells JOIN tinfo ON cells.t = tinfo.t
        |), cc AS (
        |  SELECT k, t, n, dk,
        |    SUM(ci) OVER (PARTITION BY k ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
        |  FROM wt
        |)
        |SELECT k AS event_type, t, n AS n_risk, dk AS n_events,
        |  ROUND(CAST(cp AS DOUBLE) / 1e12, 6) AS cif6
        |FROM cc ORDER BY event_type, t""".stripMargin,
    "q368_group_rmst" ->
      s"""WITH $survivalSubjectsCte, cells AS (
        |  SELECT ft AS g, t,
        |    CAST(SUM(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM subj GROUP BY g, t
        |), tot AS (
        |  SELECT g, CAST(SUM(d + c) AS BIGINT) AS total
        |  FROM cells GROUP BY g
        |), pre AS (
        |  SELECT cells.g, t, d, c, tot.total,
        |    CAST(COALESCE(SUM(d + c) OVER (PARTITION BY cells.g ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS p
        |  FROM cells JOIN tot ON cells.g = tot.g
        |), term0 AS (
        |  SELECT g, t, total - p AS n, d, c,
        |    CASE WHEN d > 0 AND d < total - p
        |      THEN CAST(CAST(ROUND(ln(1.0 - CAST(d AS DOUBLE)
        |          / CAST(total - p AS DOUBLE)), 12) AS DECIMAL(28,12))
        |        * 1000000000000 AS BIGINT)
        |      ELSE 0 END AS lt,
        |    CASE WHEN d = total - p THEN 1 ELSE 0 END AS z
        |  FROM pre
        |), cum AS (
        |  SELECT g, t, d, c,
        |    SUM(lt) OVER (PARTITION BY g ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lp,
        |    SUM(z) OVER (PARTITION BY g ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zp
        |  FROM term0
        |), curve AS (
        |  SELECT g, t, d, c,
        |    CASE WHEN zp > 0 THEN 0.0
        |      ELSE ROUND(exp(CAST(lp AS DOUBLE) / 1e12), 6)
        |      END AS survival6
        |  FROM cum
        |), lagd AS (
        |  SELECT g, t, d, c, survival6,
        |    LAG(t) OVER (PARTITION BY g ORDER BY t) AS pt,
        |    LAG(survival6) OVER (PARTITION BY g ORDER BY t) AS psv
        |  FROM curve
        |), seg AS (
        |  SELECT g, d, c,
        |    CASE WHEN COALESCE(pt, 0.0) < 20.0
        |      THEN CAST(ROUND(COALESCE(psv, 1.0)
        |        * (LEAST(t, 20.0) - COALESCE(pt, 0.0)), 12)
        |        AS DECIMAL(38,12))
        |      ELSE CAST(0 AS DECIMAL(38,12)) END AS term
        |  FROM lagd
        |), pg AS (
        |  SELECT g, SUM(term) AS tin, CAST(SUM(d) AS BIGINT) AS nev,
        |    CAST(SUM(d + c) AS BIGINT) AS n
        |  FROM seg GROUP BY g
        |), lst AS (
        |  SELECT g, t AS tl, survival6 AS sl FROM (
        |    SELECT g, t, survival6,
        |      ROW_NUMBER() OVER (PARTITION BY g ORDER BY t DESC) AS rn
        |    FROM curve) WHERE rn = 1
        |)
        |SELECT pg.g, 20.0 AS tau, pg.n, pg.nev AS n_events,
        |  ROUND(CAST(pg.tin
        |    + (CASE WHEN 20.0 > lst.tl
        |        THEN CAST(ROUND(lst.sl * (20.0 - lst.tl), 12)
        |          AS DECIMAL(38,12))
        |        ELSE CAST(0 AS DECIMAL(38,12)) END) AS DOUBLE), 6)
        |    AS rmst6
        |FROM pg JOIN lst ON pg.g = lst.g ORDER BY pg.g""".stripMargin,
    "q369_group_nelson_aalen" ->
      s"""WITH $survivalSubjectsCte, cells AS (
        |  SELECT ft AS g, t,
        |    CAST(SUM(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM subj GROUP BY g, t
        |), tot AS (
        |  SELECT g, CAST(SUM(d + c) AS BIGINT) AS total
        |  FROM cells GROUP BY g
        |), pre AS (
        |  SELECT cells.g, t, d, c, tot.total,
        |    CAST(COALESCE(SUM(d + c) OVER (PARTITION BY cells.g ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS p
        |  FROM cells JOIN tot ON cells.g = tot.g
        |), term AS (
        |  SELECT g, t, total - p AS n, d, c,
        |    CASE WHEN d > 0
        |      THEN CAST(CAST(ROUND(CAST(d AS DOUBLE)
        |          / CAST(total - p AS DOUBLE), 12) AS DECIMAL(28,12))
        |        * 1000000000000 AS BIGINT)
        |      ELSE 0 END AS ht
        |  FROM pre
        |), cum AS (
        |  SELECT g, t, n, d, c,
        |    SUM(ht) OVER (PARTITION BY g ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hp
        |  FROM term
        |)
        |SELECT g, t, n AS n_risk, d AS n_events, c AS n_censored,
        |  ROUND(CAST(hp AS DOUBLE) / 1e12, 6) AS cumhaz6
        |FROM cum ORDER BY g, t""".stripMargin,
    "q370_group_cuped" ->
      """WITH u0 AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN epoch_us(ts) < 1705363200000000
        |      THEN CAST(ROUND(value, 12) AS DECIMAL(38,12)) END)
        |      AS DOUBLE) AS x,
        |    CAST(SUM(CASE WHEN epoch_us(ts) >= 1705363200000000
        |      THEN CAST(ROUND(value, 12) AS DECIMAL(38,12)) END)
        |      AS DOUBLE) AS y
        |  FROM events WHERE value IS NOT NULL GROUP BY user_id
        |), u AS (
        |  SELECT 'seg' || CAST(user_id % 3 AS VARCHAR) AS g, user_id, x, y
        |  FROM u0 WHERE x IS NOT NULL AND y IS NOT NULL
        |), h AS (
        |  SELECT g, x, y,
        |    CAST(list_sum(list_transform(range(8), i ->
        |      (strpos('0123456789abcdef',
        |         substr(md5('cuped2:' || CAST(user_id AS VARCHAR)),
        |           CAST(i+1 AS INT), 1)) - 1)
        |        * 16**(7-i))) AS BIGINT) AS hv
        |  FROM u
        |), a AS (
        |  SELECT g, x, y,
        |    CASE WHEN hv < 2147483648 THEN 'control' ELSE 'treat' END AS arm
        |  FROM h
        |), st AS (
        |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(ROUND(x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(ROUND(y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(ROUND(x*x, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS sxx,
        |    CAST(SUM(CAST(ROUND(x*y, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS sxy
        |  FROM a GROUP BY g
        |), th AS (
        |  SELECT g, CASE WHEN CAST(n AS DOUBLE)*sxx - sx*sx > 0
        |    THEN (CAST(n AS DOUBLE)*sxy - sx*sy)
        |      / (CAST(n AS DOUBLE)*sxx - sx*sx)
        |    ELSE 0.0 END AS theta,
        |    sx / CAST(n AS DOUBLE) AS mux
        |  FROM st
        |), adj AS (
        |  SELECT a.g, arm, y, y - th.theta * (x - th.mux) AS ya, th.theta
        |  FROM a JOIN th ON a.g = th.g
        |), gg AS (
        |  SELECT g, arm, CAST(COUNT(*) AS BIGINT) AS n, MAX(theta) AS theta,
        |    CAST(SUM(CAST(ROUND(y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(ROUND(y*y, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS syy,
        |    CAST(SUM(CAST(ROUND(ya, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sa,
        |    CAST(SUM(CAST(ROUND(ya*ya, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |      AS saa
        |  FROM adj GROUP BY g, arm
        |), f AS (
        |  SELECT g, arm, n, theta, CAST(n AS DOUBLE) AS nd, sy, sa,
        |    CASE WHEN n >= 2 THEN (CAST(n AS DOUBLE)*syy - sy*sy)
        |      / (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1.0)) END AS vraw,
        |    CASE WHEN n >= 2 THEN (CAST(n AS DOUBLE)*saa - sa*sa)
        |      / (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1.0)) END AS vadj
        |  FROM gg
        |)
        |SELECT g, arm, n, ROUND(theta, 6) AS theta6,
        |  ROUND(sy / nd, 6) AS mean_raw6,
        |  ROUND(sa / nd, 6) AS mean_adj6,
        |  CASE WHEN n >= 2 THEN ROUND(vraw, 6) END AS var_raw6,
        |  CASE WHEN n >= 2 THEN ROUND(vadj, 6) END AS var_adj6,
        |  CASE WHEN n >= 2 THEN ROUND(sa/nd - 1.96*sqrt(
        |    (CASE WHEN vadj > 0 THEN vadj ELSE 0.0 END)/nd), 6) END AS lo6,
        |  CASE WHEN n >= 2 THEN ROUND(sa/nd + 1.96*sqrt(
        |    (CASE WHEN vadj > 0 THEN vadj ELSE 0.0 END)/nd), 6) END AS hi6
        |FROM f ORDER BY g, arm""".stripMargin,
    "q371_logrank_k" ->
      s"""WITH $survivalSubjectsCte, s2 AS (
        |  SELECT CASE WHEN ft IN ('purchase','signup') THEN 'intent'
        |              WHEN ft IN ('click','view') THEN 'browse'
        |              ELSE 'error' END AS g, t, obs
        |  FROM subj
        |), cells AS (
        |  SELECT t,
        |    CAST(SUM(CASE WHEN g='browse' AND obs THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d0,
        |    CAST(SUM(CASE WHEN g='browse' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x0,
        |    CAST(SUM(CASE WHEN g='error' AND obs THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d1,
        |    CAST(SUM(CASE WHEN g='error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x1,
        |    CAST(SUM(CASE WHEN g='intent' AND obs THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d2,
        |    CAST(SUM(CASE WHEN g='intent' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x2
        |  FROM s2 GROUP BY t
        |), tt AS (
        |  SELECT CAST(SUM(x0) AS BIGINT) AS t0,
        |    CAST(SUM(x1) AS BIGINT) AS t1,
        |    CAST(SUM(x2) AS BIGINT) AS t2 FROM cells
        |), pre AS (
        |  SELECT t, d0, d1, d2,
        |    CAST(COALESCE(SUM(x0) OVER w, 0) AS BIGINT) AS p0,
        |    CAST(COALESCE(SUM(x1) OVER w, 0) AS BIGINT) AS p1,
        |    CAST(COALESCE(SUM(x2) OVER w, 0) AS BIGINT) AS p2
        |  FROM cells
        |  WINDOW w AS (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), tm AS (
        |  SELECT d0, d1, d2,
        |    CAST(t0 - p0 AS DOUBLE) AS n0, CAST(t1 - p1 AS DOUBLE) AS n1,
        |    CAST(t2 - p2 AS DOUBLE) AS n2,
        |    CAST(t0 - p0 AS DOUBLE) + CAST(t1 - p1 AS DOUBLE)
        |      + CAST(t2 - p2 AS DOUBLE) AS n,
        |    CAST(d0 + d1 + d2 AS DOUBLE) AS d
        |  FROM pre, tt
        |), agg AS (
        |  SELECT
        |    CAST(SUM(d0) AS BIGINT) AS o0, CAST(SUM(d1) AS BIGINT) AS o1,
        |    CAST(SUM(d2) AS BIGINT) AS o2,
        |    SUM(CASE WHEN d > 0 THEN CAST(ROUND(d*n0/n, 12)
        |      AS DECIMAL(38,12)) ELSE CAST(0 AS DECIMAL(38,12)) END) AS e0,
        |    SUM(CASE WHEN d > 0 THEN CAST(ROUND(d*n1/n, 12)
        |      AS DECIMAL(38,12)) ELSE CAST(0 AS DECIMAL(38,12)) END) AS e1,
        |    SUM(CASE WHEN d > 0 THEN CAST(ROUND(d*n2/n, 12)
        |      AS DECIMAL(38,12)) ELSE CAST(0 AS DECIMAL(38,12)) END) AS e2,
        |    SUM(CASE WHEN d > 0 AND n > 1 THEN CAST(ROUND(
        |      d*(n-d)/(n-1.0) * (n0*(n-n0)) / (n*n), 12)
        |      AS DECIMAL(38,12)) ELSE CAST(0 AS DECIMAL(38,12)) END) AS v00,
        |    SUM(CASE WHEN d > 0 AND n > 1 THEN CAST(ROUND(
        |      d*(n-d)/(n-1.0) * (-n0*n1) / (n*n), 12)
        |      AS DECIMAL(38,12)) ELSE CAST(0 AS DECIMAL(38,12)) END) AS v01,
        |    SUM(CASE WHEN d > 0 AND n > 1 THEN CAST(ROUND(
        |      d*(n-d)/(n-1.0) * (n1*(n-n1)) / (n*n), 12)
        |      AS DECIMAL(38,12)) ELSE CAST(0 AS DECIMAL(38,12)) END) AS v11,
        |    SUM(CASE WHEN d > 0 AND n > 1 THEN CAST(ROUND(
        |      d*(n-d)/(n-1.0) * (n2*(n-n2)) / (n*n), 12)
        |      AS DECIMAL(38,12)) ELSE CAST(0 AS DECIMAL(38,12)) END) AS v22
        |  FROM tm
        |), sc AS (
        |  SELECT o0, o1, o2, e0, e1, e2, v00, v01, v11, v22,
        |    CAST(CAST(o0 AS DECIMAL(38,12)) - e0 AS DECIMAL(18,12)) AS w0,
        |    CAST(CAST(o1 AS DECIMAL(38,12)) - e1 AS DECIMAL(18,12)) AS w1
        |  FROM agg
        |), qf AS (
        |  SELECT *,
        |    CAST(ROUND(CAST(v00 AS DECIMAL(18,12))
        |        * CAST(v11 AS DECIMAL(18,12)), 12) AS DECIMAL(18,12))
        |      - CAST(ROUND(CAST(v01 AS DECIMAL(18,12))
        |        * CAST(v01 AS DECIMAL(18,12)), 12) AS DECIMAL(18,12))
        |      AS det,
        |    CAST(ROUND(CAST(ROUND(w0 * w0, 12) AS DECIMAL(18,12))
        |        * CAST(v11 AS DECIMAL(18,12)), 12) AS DECIMAL(18,12))
        |    + CAST(ROUND(CAST(ROUND(w0 * w1, 12) AS DECIMAL(18,12))
        |        * (- CAST(v01 AS DECIMAL(18,12))), 12) AS DECIMAL(18,12))
        |    + CAST(ROUND(CAST(ROUND(w1 * w0, 12) AS DECIMAL(18,12))
        |        * (- CAST(v01 AS DECIMAL(18,12))), 12) AS DECIMAL(18,12))
        |    + CAST(ROUND(CAST(ROUND(w1 * w1, 12) AS DECIMAL(18,12))
        |        * CAST(v00 AS DECIMAL(18,12)), 12) AS DECIMAL(18,12))
        |      AS num
        |  FROM sc
        |), fin AS (
        |  SELECT *, CASE WHEN det > 0 THEN
        |    ROUND(CAST(num AS DOUBLE) / CAST(det AS DOUBLE), 6) END AS chi2
        |  FROM qf, tt
        |)
        |SELECT 'browse' AS g, t0 AS n, o0 AS o,
        |  ROUND(CAST(e0 AS DOUBLE), 6) AS e6,
        |  ROUND(CAST(CAST(o0 AS DECIMAL(38,12)) - e0 AS DOUBLE), 6)
        |    AS o_minus_e6,
        |  ROUND(CAST(v00 AS DOUBLE), 6) AS var6,
        |  chi2 AS chi2_6, CAST(2 AS BIGINT) AS df FROM fin
        |UNION ALL
        |SELECT 'error' AS g, t1, o1, ROUND(CAST(e1 AS DOUBLE), 6),
        |  ROUND(CAST(CAST(o1 AS DECIMAL(38,12)) - e1 AS DOUBLE), 6),
        |  ROUND(CAST(v11 AS DOUBLE), 6), chi2, CAST(2 AS BIGINT) FROM fin
        |UNION ALL
        |SELECT 'intent' AS g, t2, o2, ROUND(CAST(e2 AS DOUBLE), 6),
        |  ROUND(CAST(CAST(o2 AS DECIMAL(38,12)) - e2 AS DOUBLE), 6),
        |  ROUND(CAST(v22 AS DOUBLE), 6), chi2, CAST(2 AS BIGINT)
        |FROM fin""".stripMargin,
    "q372_stratified_logrank" ->
      s"""WITH $survivalSubjectsCte, cells AS (
        |  SELECT ft AS s, t,
        |    CAST(SUM(CASE WHEN par='even' AND obs THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d0,
        |    CAST(SUM(CASE WHEN par='even' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x0,
        |    CAST(SUM(CASE WHEN par='odd' AND obs THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d1,
        |    CAST(SUM(CASE WHEN par='odd' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x1
        |  FROM subj GROUP BY ft, t
        |), tt AS (
        |  SELECT s, CAST(SUM(x0) AS BIGINT) AS t0,
        |    CAST(SUM(x1) AS BIGINT) AS t1
        |  FROM cells GROUP BY s
        |), pre AS (
        |  SELECT s, t, d0, d1,
        |    CAST(COALESCE(SUM(x0) OVER w, 0) AS BIGINT) AS p0,
        |    CAST(COALESCE(SUM(x1) OVER w, 0) AS BIGINT) AS p1
        |  FROM cells
        |  WINDOW w AS (PARTITION BY s ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), tm AS (
        |  SELECT d0, d1,
        |    CAST(tt.t0 - p0 AS DOUBLE) AS n0,
        |    CAST(tt.t1 - p1 AS DOUBLE) AS n1,
        |    CAST(tt.t0 - p0 AS DOUBLE) + CAST(tt.t1 - p1 AS DOUBLE) AS n,
        |    CAST(d0 + d1 AS DOUBLE) AS d
        |  FROM pre JOIN tt ON pre.s = tt.s
        |), agg AS (
        |  SELECT CAST(SUM(d0) AS BIGINT) AS o0,
        |    CAST(SUM(d1) AS BIGINT) AS o1,
        |    SUM(CASE WHEN d > 0 THEN CAST(ROUND(d*n0/n, 12)
        |      AS DECIMAL(38,12)) ELSE CAST(0 AS DECIMAL(38,12)) END) AS e0,
        |    SUM(CASE WHEN d > 0 THEN CAST(ROUND(d*n1/n, 12)
        |      AS DECIMAL(38,12)) ELSE CAST(0 AS DECIMAL(38,12)) END) AS e1,
        |    SUM(CASE WHEN d > 0 AND n > 1 THEN CAST(ROUND(
        |      d*(n-d)/(n-1.0) * (n0*(n-n0)) / (n*n), 12)
        |      AS DECIMAL(38,12)) ELSE CAST(0 AS DECIMAL(38,12)) END) AS v00,
        |    SUM(CASE WHEN d > 0 AND n > 1 THEN CAST(ROUND(
        |      d*(n-d)/(n-1.0) * (n1*(n-n1)) / (n*n), 12)
        |      AS DECIMAL(38,12)) ELSE CAST(0 AS DECIMAL(38,12)) END) AS v11
        |  FROM tm
        |), gt AS (
        |  SELECT CAST(SUM(t0) AS BIGINT) AS g0,
        |    CAST(SUM(t1) AS BIGINT) AS g1 FROM tt
        |), fin AS (
        |  SELECT *,
        |    CAST(CAST(o0 AS DECIMAL(38,12)) - e0 AS DECIMAL(18,12)) AS w0
        |  FROM agg
        |), fin2 AS (
        |  SELECT *, CASE WHEN v00 > 0 THEN
        |    ROUND(CAST(CAST(ROUND(w0 * w0, 12) AS DECIMAL(18,12)) AS DOUBLE)
        |      / CAST(v00 AS DOUBLE), 6) END AS chi2
        |  FROM fin
        |)
        |SELECT 'even' AS g, g0 AS n, o0 AS o,
        |  ROUND(CAST(e0 AS DOUBLE), 6) AS e6,
        |  ROUND(CAST(CAST(o0 AS DECIMAL(38,12)) - e0 AS DOUBLE), 6)
        |    AS o_minus_e6,
        |  ROUND(CAST(v00 AS DOUBLE), 6) AS var6,
        |  chi2 AS chi2_6, CAST(1 AS BIGINT) AS df FROM fin2, gt
        |UNION ALL
        |SELECT 'odd' AS g, g1, o1, ROUND(CAST(e1 AS DOUBLE), 6),
        |  ROUND(CAST(CAST(o1 AS DECIMAL(38,12)) - e1 AS DOUBLE), 6),
        |  ROUND(CAST(v11 AS DOUBLE), 6), chi2, CAST(1 AS BIGINT)
        |FROM fin2, gt""".stripMargin,
    "q362_nelson_aalen" ->
      s"""WITH $survivalSubjectsCte, g AS (
        |  SELECT t,
        |    CAST(SUM(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM subj GROUP BY t
        |), tot AS (
        |  SELECT CAST(SUM(d + c) AS BIGINT) AS total FROM g
        |), pre AS (
        |  SELECT g.t, g.d, g.c, tot.total,
        |    CAST(COALESCE(SUM(d + c) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS p
        |  FROM g, tot
        |), term AS (
        |  SELECT t, total - p AS n, d, c,
        |    CASE WHEN d > 0
        |      THEN CAST(CAST(ROUND(CAST(d AS DOUBLE)
        |          / CAST(total - p AS DOUBLE), 12) AS DECIMAL(28,12))
        |        * 1000000000000 AS BIGINT)
        |      ELSE 0 END AS ht
        |  FROM pre
        |), cum AS (
        |  SELECT t, n, d, c,
        |    SUM(ht) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hp
        |  FROM term
        |)
        |SELECT t, n AS n_risk, d AS n_events, c AS n_censored,
        |  ROUND(CAST(hp AS DOUBLE) / 1e12, 6) AS cumhaz6
        |FROM cum ORDER BY t""".stripMargin,
    "q363_rmst" ->
      s"""WITH $survivalSubjectsCte, g AS (
        |  SELECT t,
        |    CAST(SUM(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM subj GROUP BY t
        |), tot AS (
        |  SELECT CAST(SUM(d + c) AS BIGINT) AS total FROM g
        |), pre AS (
        |  SELECT g.t, g.d, g.c, tot.total,
        |    CAST(COALESCE(SUM(d + c) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS p
        |  FROM g, tot
        |), term0 AS (
        |  SELECT t, total - p AS n, d, c,
        |    CASE WHEN d > 0 AND d < total - p
        |      THEN CAST(CAST(ROUND(ln(1.0 - CAST(d AS DOUBLE)
        |          / CAST(total - p AS DOUBLE)), 12) AS DECIMAL(28,12))
        |        * 1000000000000 AS BIGINT)
        |      ELSE 0 END AS lt,
        |    CASE WHEN d = total - p THEN 1 ELSE 0 END AS z
        |  FROM pre
        |), cum AS (
        |  SELECT t, d, c,
        |    SUM(lt) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lp,
        |    SUM(z) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zp
        |  FROM term0
        |), curve AS (
        |  SELECT t, d, c,
        |    CASE WHEN zp > 0 THEN 0.0
        |      ELSE ROUND(exp(CAST(lp AS DOUBLE) / 1e12), 6)
        |      END AS survival6
        |  FROM cum
        |), lagd AS (
        |  SELECT t, d, c, survival6,
        |    LAG(t) OVER (ORDER BY t) AS pt,
        |    LAG(survival6) OVER (ORDER BY t) AS psv
        |  FROM curve
        |), seg AS (
        |  SELECT d, c,
        |    CASE WHEN COALESCE(pt, 0.0) < 20.0
        |      THEN CAST(ROUND(COALESCE(psv, 1.0)
        |        * (LEAST(t, 20.0) - COALESCE(pt, 0.0)), 12)
        |        AS DECIMAL(38,12))
        |      ELSE CAST(0 AS DECIMAL(38,12)) END AS term
        |  FROM lagd
        |), lst AS (
        |  SELECT t AS tl, survival6 AS sl FROM curve
        |  ORDER BY t DESC LIMIT 1
        |)
        |SELECT 20.0 AS tau, CAST(SUM(d + c) AS BIGINT) AS n,
        |  CAST(SUM(d) AS BIGINT) AS n_events,
        |  ROUND(CAST(SUM(term)
        |    + (CASE WHEN 20.0 > lst.tl
        |        THEN CAST(ROUND(lst.sl * (20.0 - lst.tl), 12)
        |          AS DECIMAL(38,12))
        |        ELSE CAST(0 AS DECIMAL(38,12)) END) AS DOUBLE), 6)
        |    AS rmst6
        |FROM seg, lst GROUP BY lst.tl, lst.sl""".stripMargin,
    "q356_group_kaplan_meier" ->
      s"""WITH $survivalSubjectsCte, cells AS (
        |  SELECT ft AS g, t,
        |    CAST(SUM(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM subj GROUP BY g, t
        |), tot AS (
        |  SELECT g, CAST(SUM(d + c) AS BIGINT) AS total
        |  FROM cells GROUP BY g
        |), pre AS (
        |  SELECT cells.g, t, d, c, tot.total,
        |    CAST(COALESCE(SUM(d + c) OVER (PARTITION BY cells.g ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS p
        |  FROM cells JOIN tot ON cells.g = tot.g
        |), term AS (
        |  SELECT g, t, total - p AS n, d, c,
        |    CASE WHEN d > 0 AND d < total - p
        |      THEN CAST(CAST(ROUND(ln(1.0 - CAST(d AS DOUBLE)
        |          / CAST(total - p AS DOUBLE)), 12) AS DECIMAL(28,12))
        |        * 1000000000000 AS BIGINT)
        |      ELSE 0 END AS lt,
        |    CASE WHEN d = total - p THEN 1 ELSE 0 END AS z
        |  FROM pre
        |), cum AS (
        |  SELECT g, t, n, d, c,
        |    SUM(lt) OVER (PARTITION BY g ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lp,
        |    SUM(z) OVER (PARTITION BY g ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zp
        |  FROM term
        |)
        |SELECT g, t, n AS n_risk, d AS n_events, c AS n_censored,
        |  CASE WHEN zp > 0 THEN 0.0
        |    ELSE ROUND(exp(CAST(lp AS DOUBLE) / 1e12), 6)
        |    END AS survival6
        |FROM cum ORDER BY g, t""".stripMargin,
    "q357_logrank" ->
      s"""WITH $survivalSubjectsCte, grid AS (
        |  SELECT t,
        |    CAST(SUM(CASE WHEN par = 'even' AND obs THEN 1 ELSE 0 END)
        |      AS BIGINT) AS da,
        |    CAST(SUM(CASE WHEN par = 'even' AND NOT obs THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN par = 'odd' AND obs THEN 1 ELSE 0 END)
        |      AS BIGINT) AS db,
        |    CAST(SUM(CASE WHEN par = 'odd' AND NOT obs THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cb
        |  FROM subj GROUP BY t
        |), tt AS (
        |  SELECT CAST(SUM(da + ca) AS BIGINT) AS ta,
        |    CAST(SUM(db + cb) AS BIGINT) AS tb
        |  FROM grid
        |), pre AS (
        |  SELECT grid.*, tt.ta, tt.tb,
        |    CAST(COALESCE(SUM(da + ca) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS pa,
        |    CAST(COALESCE(SUM(db + cb) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS pb
        |  FROM grid, tt
        |), term AS (
        |  SELECT da, db,
        |    CAST(da + db AS DOUBLE) AS d,
        |    CAST(ta - pa AS DOUBLE) AS na,
        |    CAST(tb - pb AS DOUBLE) AS nb
        |  FROM pre
        |), agg AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN d > 0
        |      THEN CAST(ROUND(CAST(da AS DOUBLE) - d * na / (na + nb), 12)
        |        AS DECIMAL(38,12))
        |      ELSE CAST(0 AS DECIMAL(38,12)) END) AS DOUBLE) AS oe,
        |    CAST(SUM(CASE WHEN d > 0
        |      THEN CAST(ROUND(d * na / (na + nb), 12) AS DECIMAL(38,12))
        |      ELSE CAST(0 AS DECIMAL(38,12)) END) AS DOUBLE) AS ea,
        |    CAST(SUM(CASE WHEN d > 0 AND na + nb > 1
        |      THEN CAST(ROUND(d * (na / (na + nb)) * (nb / (na + nb))
        |        * ((na + nb) - d) / ((na + nb) - 1.0), 12)
        |        AS DECIMAL(38,12))
        |      ELSE CAST(0 AS DECIMAL(38,12)) END) AS DOUBLE) AS v,
        |    CAST(SUM(da + db) AS BIGINT) AS nev,
        |    CAST(SUM(da) AS BIGINT) AS oa
        |  FROM term
        |)
        |SELECT 'even' AS group_a, 'odd' AS group_b,
        |  tt.ta AS n_a, tt.tb AS n_b, agg.nev AS n_events,
        |  agg.oa AS o_a, ROUND(ea, 6) AS e_a6,
        |  ROUND(oe, 6) AS o_minus_e6, ROUND(v, 6) AS var6,
        |  CASE WHEN v > 0 THEN ROUND(oe / sqrt(v), 6) END AS z6,
        |  CASE WHEN v > 0 THEN ROUND(ROUND(oe / sqrt(v), 6)
        |    * ROUND(oe / sqrt(v), 6), 6) END AS chi2_6,
        |  CASE WHEN ea > 0 AND CAST(nev AS DOUBLE) - ea > 0
        |        AND nev - oa > 0
        |    THEN ROUND((CAST(oa AS DOUBLE) / ea)
        |      / (CAST(nev - oa AS DOUBLE) / (CAST(nev AS DOUBLE) - ea)), 6)
        |    END AS hazard_ratio6
        |FROM agg, tt""".stripMargin,
  )

  /** ONE shared components ground truth: exact-Jaccard pair graph +
    * recursive-CTE reachability over `documents`. q46 (min-label), q63
    * (star contraction), and q74 (retention) all compose this prefix,
    * so a fix to the shingling/threshold/reachability applies to every
    * consumer or to none — the formulations stay held to the identical
    * labeling by construction. */
  private val componentsOracleCte: String =
    """WITH RECURSIVE tk AS (
      |  SELECT doc_id, string_split_regex(trim(text), ' +') AS toks FROM documents
      |), s AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
      |         ELSE list_distinct(list_transform(range(len(toks)-2), i ->
      |           toks[CAST(i+1 AS INT)] || '_' || toks[CAST(i+2 AS INT)]
      |             || '_' || toks[CAST(i+3 AS INT)])) END AS sh
      |  FROM tk
      |), ex AS (
      |  SELECT doc_id, len(sh) AS m, unnest(sh) AS g FROM s
      |), p AS (
      |  -- inverted-index candidates: a pair sharing NO shingle has j = 0
      |  -- and can never reach a positive threshold, so grouping the
      |  -- shingle-equality self-join counts |A∩B| exactly over every pair
      |  -- that could match; |A∪B| = |A| + |B| - |A∩B| (sh is distinct)
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(COUNT(*) AS DOUBLE)
      |      / NULLIF(CAST(a.m + b.m - COUNT(*) AS DOUBLE), 0.0) AS j
      |  FROM ex a JOIN ex b ON a.g = b.g AND b.doc_id > a.doc_id
      |  GROUP BY a.doc_id, b.doc_id, a.m, b.m
      |), e AS (
      |  SELECT id_a, id_b FROM p WHERE j >= 0.5
      |), sym AS (
      |  SELECT id_a AS a, id_b AS b FROM e
      |  UNION SELECT id_b, id_a FROM e
      |), reach AS (
      |  SELECT a AS node, a AS r FROM sym
      |  UNION
      |  SELECT s2.a, r.r FROM sym s2 JOIN reach r ON s2.b = r.node
      |)""".stripMargin

  /** ONE shot-boundary ground truth: rebuilds the two-shot payload
    * in hex, recomputes every per-frame 72-cell dHash, and replays
    * the LAG/XOR/popcount rule — shared VERBATIM by the batch
    * operator (q185) and the streaming replay (q211), the
    * two-formulations-one-ground-truth pattern. */
  /** Shared by q233 (batch entity resolution) and q235 (the
    * incremental fold) — two formulations, one ground truth:
    * min-id component labels merge exactly, so folding a delta
    * shard through the contracted graph provably equals
    * re-clustering the whole match graph. */
  private val entityResolutionOracle: String =
    """WITH RECURSIVE l AS (
      |  SELECT c_custkey AS cid, c_mktsegment, c_nationkey, c_name
      |  FROM customer
      |), r AS (
      |  SELECT c_custkey + 5000000 AS cid,
      |    CASE WHEN c_custkey % 5 = 0 THEN 'XX' ELSE c_mktsegment END
      |      AS c_mktsegment,
      |    c_nationkey, c_name
      |  FROM customer
      |), cand AS (
      |  SELECT l.cid AS id_a, r.cid AS id_b,
      |    l.c_mktsegment AS sa, r.c_mktsegment AS sb,
      |    CAST(l.c_nationkey AS VARCHAR) AS na,
      |    CAST(r.c_nationkey AS VARCHAR) AS nb,
      |    l.c_name AS pa, r.c_name AS pb
      |  FROM l JOIN r ON l.cid % 200 = (r.cid - 5000000) % 200
      |), scored AS (
      |  -- NULL on either side = no evidence (0 weight), matching the
      |  -- operator contract — the fixture is non-null by construction,
      |  -- but the oracle must not diverge on the NULL path
      |  SELECT id_a, id_b,
      |    ROUND((CASE WHEN sa IS NULL OR sb IS NULL THEN 0
      |             WHEN sa = sb THEN ln(0.9 / 0.2)
      |             ELSE ln((1 - 0.9) / (1 - 0.2)) END)
      |        + (CASE WHEN na IS NULL OR nb IS NULL THEN 0
      |             WHEN na = nb THEN ln(0.95 / 0.04)
      |             ELSE ln((1 - 0.95) / (1 - 0.04)) END)
      |        + (CASE WHEN pa IS NULL OR pb IS NULL THEN 0
      |             WHEN pa = pb THEN ln(0.99 / 0.001)
      |             ELSE ln((1 - 0.99) / (1 - 0.001)) END), 6) AS score6
      |  FROM cand
      |), e AS (
      |  SELECT id_a, id_b FROM scored WHERE score6 >= 5.0
      |), sym AS (
      |  SELECT id_a AS a, id_b AS b FROM e
      |  UNION SELECT id_b, id_a FROM e
      |), reach AS (
      |  SELECT a AS node, a AS rr FROM sym
      |  UNION
      |  SELECT s2.a, rch.rr FROM sym s2 JOIN reach rch ON s2.b = rch.node
      |), lab AS (
      |  SELECT node, MIN(rr) AS comp FROM reach GROUP BY node
      |), recs AS (
      |  SELECT cid FROM l UNION ALL SELECT cid FROM r
      |)
      |SELECT recs.cid AS record_id,
      |  COALESCE(lab.comp, recs.cid) AS entity_id
      |FROM recs LEFT JOIN lab ON recs.cid = lab.node
      |ORDER BY record_id""".stripMargin

  /** Shared by q228 (the batch per-group quantiles), q244 (the
    * incremental fold), and q245 (the streaming monitor) — three
    * formulations, one ground truth: the per-group discrete
    * rank-⌈p·W_g⌉ quantile over the (group, value) grid, whose cells
    * fold by SUM. */
  private val groupQuantilesOracle: String =
    """WITH c AS (
      |  SELECT event_type AS g, CAST(value AS DOUBLE) AS v,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events WHERE value IS NOT NULL GROUP BY g, v
      |), cum AS (
      |  SELECT g, v,
      |    SUM(cnt) OVER (PARTITION BY g ORDER BY v) AS cum,
      |    SUM(cnt) OVER (PARTITION BY g) AS w
      |  FROM c
      |), ps AS (
      |  SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS p
      |)
      |SELECT cum.g AS event_type, ps.p AS p,
      |  CAST(MAX(cum.w) AS BIGINT) AS n, MIN(cum.v) AS q
      |FROM ps CROSS JOIN cum
      |WHERE cum.cum >= GREATEST(CAST(CEIL(ps.p * cum.w) AS BIGINT), 1)
      |GROUP BY cum.g, ps.p ORDER BY event_type, p""".stripMargin

  /** Shared by q220 (the batch per-group bootstrap CI), q251 (the
    * incremental fold), and q252 (the streaming monitor) — three
    * formulations, one ground truth: per-(group, replicate) partials
    * merge by exact decimal SUM and each row's weights are a pure
    * function of (salt, b, id). */
  private val groupBootstrapOracle: String =
    """WITH ev AS (
      |  SELECT event_type AS g, CAST(event_id AS VARCHAR) AS id,
      |    CAST(value AS DOUBLE) AS x
      |  FROM events WHERE value IS NOT NULL
      |), bs AS (SELECT unnest(range(100)) AS bi
      |), hw AS (
      |  SELECT g, bi, x,
      |    CAST(list_sum(list_transform(range(8), i ->
      |      (strpos('0123456789abcdef',
      |         substr(md5('boot2:' || CAST(bi AS VARCHAR) || ':' || id),
      |           CAST(i+1 AS INT), 1)) - 1) * 16**(7-i))) AS BIGINT) AS h
      |  FROM ev CROSS JOIN bs
      |), w AS (
      |  SELECT g, bi, x,
      |    CASE WHEN h < 1580030168 THEN 0
      |         WHEN h < 3160060337 THEN 1
      |         WHEN h < 3950075421 THEN 2
      |         WHEN h < 4213413783 THEN 3
      |         WHEN h < 4279248373 THEN 4
      |         WHEN h < 4292415291 THEN 5
      |         ELSE 6 END AS w
      |  FROM hw
      |), m AS (
      |  SELECT g, bi,
      |    CAST(SUM(CAST(ROUND(w * x, 9) AS DECIMAL(38,9))) AS DOUBLE)
      |      / CAST(SUM(w) AS DOUBLE) AS mm
      |  FROM w GROUP BY g, bi HAVING SUM(w) > 0
      |), ci AS (
      |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_boot,
      |    quantile_cont(mm, 0.025) AS qlo, quantile_cont(mm, 0.975) AS qhi
      |  FROM m GROUP BY g
      |), base AS (
      |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(ROUND(x, 9) AS DECIMAL(38,9))) AS DOUBLE)
      |      / COUNT(*) AS mean
      |  FROM ev GROUP BY g
      |)
      |SELECT base.g AS event_type, n, n_boot,
      |  ROUND(mean, 6) AS mean6,
      |  ROUND(qlo, 6) AS lo6, ROUND(qhi, 6) AS hi6
      |FROM base JOIN ci ON base.g = ci.g
      |ORDER BY event_type""".stripMargin

  /** Shared by q234 (the batch per-source rank-path Gini), q247 (the
    * per-group counts-path readout), q248 (the incremental fold), and
    * q249 (the streaming monitor) — four formulations, one ground
    * truth: per-group cells fold by SUM and the rank identity is
    * tie-order-invariant within each group. */
  private val giniBySourceOracle: String =
    """WITH d AS (
      |  SELECT source,
      |    CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS x,
      |    doc_id
      |  FROM documents WHERE text IS NOT NULL
      |), r AS (
      |  SELECT source, x,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY x, CAST(doc_id AS VARCHAR)) AS i
      |  FROM d
      |), s AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS DECIMAL(38,0))) AS t,
      |    SUM(CAST(i AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS s2
      |  FROM r GROUP BY source
      |)
      |SELECT source, n, CAST(t AS BIGINT) AS total,
      |  ROUND(CAST(2 * s2 - (n + 1) * t AS DOUBLE)
      |    / CAST(n * t AS DOUBLE), 6) AS gini6
      |FROM s ORDER BY source""".stripMargin

  /** Shared by q230 (the batch rank-path Gini), q237 (the counts-path
    * readout), q238 (the incremental fold), and q239 (the streaming
    * monitor) — four formulations, one ground truth: the value-count
    * ECDF folds by SUM and the rank identity is tie-order-invariant,
    * so every path reads the identical G. */
  /** The md5-based portable 32-bit hash as DuckDB SQL — the
    * [[graft.functions.TextFunctions.portableTokenHash32]] idiom over
    * an arbitrary VARCHAR expression. */
  private def hash32Sql(expr: String): String =
    s"""CAST(list_sum(list_transform(range(8), i ->
       |      (strpos('0123456789abcdef',
       |         substr(md5($expr),
       |           CAST(i+1 AS INT), 1)) - 1) * 16**(7-i))) AS BIGINT)""".stripMargin

  /** The q253–q256 annotation panel as a CTE (`ratings(it, rater, l)`)
    * — five raters, integer-hash noise budgets, junk-category
    * corruption; [[annotationRatings]]'s derivation verbatim. */
  private val annotationRatingsCte: String =
    s"""ratings AS (
       |  SELECT CAST(d.doc_id AS VARCHAR) AS it,
       |    'r' || CAST(g.r AS VARCHAR) AS rater,
       |    CASE WHEN ${hash32Sql(
             "'ann:' || CAST(g.r AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)")}
       |        % 100 < (g.r + 1) * 8
       |      THEN 'z' || substr(md5('annx:' || CAST(g.r AS VARCHAR) ||
       |        ':' || CAST(d.doc_id AS VARCHAR)), 1, 1)
       |      ELSE d.lang END AS l
       |  FROM documents d CROSS JOIN (SELECT unnest(range(5)) AS r) g
       |)""".stripMargin

  /** The (item, label) cell counts + per-item consensus the
    * consolidation/report oracles share. */
  private val annotationCellsCte: String =
    s"""$annotationRatingsCte,
       |cells AS (
       |  SELECT it, l, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM ratings GROUP BY it, l
       |), w AS (
       |  SELECT it, l, c,
       |    ROW_NUMBER() OVER (PARTITION BY it ORDER BY c DESC, l) AS rn,
       |    CAST(SUM(c) OVER (PARTITION BY it) AS BIGINT) AS nr
       |  FROM cells
       |)""".stripMargin

  /** The q257–q259 preference tournament as a CTE
    * (`prefs(winner, loser)`) — [[preferencePairs]]' derivation
    * verbatim. */
  private val preferencePairsCte: String =
    """prefs AS (
      |  SELECT
      |    CASE WHEN a.value > b.value THEN a.event_type
      |      ELSE b.event_type END AS winner,
      |    CASE WHEN a.value > b.value THEN b.event_type
      |      ELSE a.event_type END AS loser
      |  FROM events a JOIN events b ON b.event_id = a.event_id + 1
      |  WHERE a.event_id % 2 = 0
      |    AND a.value IS NOT NULL AND b.value IS NOT NULL
      |    AND a.event_type <> b.event_type AND a.value <> b.value
      |)""".stripMargin

  /** The Wilson-interval SELECT tail shared by the q255/q257 oracles —
    * [[graft.operators.Quality.passRateCIFromCounts]]'s arithmetic
    * with z·z as an expression (the q193 discipline); expects a
    * relation `g(keys..., n, n_pass)`. */
  private def wilsonSql(keys: String): String =
    s"""SELECT $keys, n, n_pass,
       |  ROUND(p, 6) AS rate6,
       |  ROUND(((p + 1.96*1.96/(2.0*nd))
       |    - 1.96 * sqrt(p*(1.0-p)/nd + 1.96*1.96/(4.0*nd*nd)))
       |    / (1.0 + 1.96*1.96/nd), 6) AS lo6,
       |  ROUND(((p + 1.96*1.96/(2.0*nd))
       |    + 1.96 * sqrt(p*(1.0-p)/nd + 1.96*1.96/(4.0*nd*nd)))
       |    / (1.0 + 1.96*1.96/nd), 6) AS hi6
       |FROM (SELECT $keys, n, n_pass,
       |        CAST(n_pass AS DOUBLE) / CAST(n AS DOUBLE) AS p,
       |        CAST(n AS DOUBLE) AS nd
       |      FROM g)""".stripMargin

  /** Shared by q260 (the direct HHI), q263 (the counts path), q264
    * (the incremental fold), and q265 (the streaming monitor) — four
    * formulations, one ground truth: every HHI sufficient statistic
    * is a SUM over the value-count state. */
  /** Shared by q262 (the direct Theil), q270 (the counts path), q271
    * (the incremental fold), and q272 (the streaming monitor) — four
    * formulations, one ground truth: an integer multiple of a
    * 12dp-rounded decimal term is exact, so the count-state readout
    * provably equals the per-row one. */
  private val theilTokenMassOracle: String =
    """WITH d AS (
        |  SELECT CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT)
        |    AS x
        |  FROM documents WHERE text IS NOT NULL
        |), s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(x AS DECIMAL(38,0))) AS t
        |  FROM d
        |), terms AS (
        |  SELECT CASE WHEN x > 0 THEN
        |      (CAST(x AS DOUBLE) / CAST(t AS DOUBLE)) *
        |        ln(CAST(n AS DOUBLE) *
        |          (CAST(x AS DOUBLE) / CAST(t AS DOUBLE)))
        |    ELSE 0.0 END AS term
        |  FROM d, s
        |), th AS (
        |  SELECT CAST(SUM(CAST(ROUND(term, 12) AS DECIMAL(38,12)))
        |    AS DOUBLE) AS theil
        |  FROM terms
        |)
        |SELECT s.n, CAST(s.t AS BIGINT) AS total,
        |  ROUND(theil, 6) AS theil6,
        |  CASE WHEN s.n > 1 THEN ROUND(theil / ln(CAST(s.n AS DOUBLE)), 6)
        |  END AS theil_norm6
        |FROM s, th""".stripMargin

  /** Shared by q261 (the direct per-source HHI), q274 (the counts
    * path), q275 (the incremental fold), and q276 (the streaming
    * monitor). */
  private val hhiBySourceOracle: String =
    """WITH d AS (
        |  SELECT source,
        |    CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS x
        |  FROM documents WHERE text IS NOT NULL
        |), g AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(x AS DECIMAL(38,0))) AS t,
        |    SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS s2
        |  FROM d GROUP BY source
        |)
        |SELECT source, n, CAST(t AS BIGINT) AS total,
        |  CASE WHEN t > 0 THEN
        |    ROUND(CAST(s2 AS DOUBLE) / CAST(t*t AS DOUBLE), 6)
        |  END AS hhi6,
        |  CASE WHEN t > 0 AND n > 1 THEN
        |    ROUND(CAST(n*s2 - t*t AS DOUBLE)
        |      / (CAST(t*t AS DOUBLE) * CAST(n-1 AS DOUBLE)), 6)
        |  END AS hhi_norm6
        |FROM g ORDER BY source""".stripMargin

  /** Shared by q268 (the direct per-source Theil), q277 (the counts
    * path), q278 (the incremental fold), and q279 (the streaming
    * monitor). */
  private val theilBySourceOracle: String =
    """WITH d AS (
        |  SELECT source,
        |    CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS x
        |  FROM documents WHERE text IS NOT NULL
        |), g AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(x AS DECIMAL(38,0))) AS t
        |  FROM d GROUP BY source
        |), th AS (
        |  SELECT d.source,
        |    CAST(SUM(CAST(ROUND(CASE WHEN x > 0 THEN
        |        (CAST(x AS DOUBLE) / CAST(t AS DOUBLE)) *
        |          ln(CAST(n AS DOUBLE) *
        |            (CAST(x AS DOUBLE) / CAST(t AS DOUBLE)))
        |      ELSE 0.0 END, 12) AS DECIMAL(38,12))) AS DOUBLE) AS theil
        |  FROM d JOIN g ON g.source = d.source
        |  GROUP BY d.source
        |)
        |SELECT g.source, g.n, CAST(g.t AS BIGINT) AS total,
        |  CASE WHEN g.t > 0 THEN ROUND(th.theil, 6) END AS theil6,
        |  CASE WHEN g.t > 0 AND g.n > 1 THEN
        |    ROUND(th.theil / ln(CAST(g.n AS DOUBLE)), 6)
        |  END AS theil_norm6
        |FROM g JOIN th ON th.source = g.source
        |ORDER BY g.source""".stripMargin

  /** Shared by q253 (the batch Fleiss kappa), q280 (the incremental
    * cell fold), and q281 (the streaming monitor) — three
    * formulations, one ground truth: (item, label) cells fold by SUM
    * and kappa is a function of the cells alone. */
  private val fleissPanelOracle: String =
    s"""WITH $annotationRatingsCte,
         |cells AS (
         |  SELECT it, l, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM ratings GROUP BY it, l
         |), per AS (
         |  SELECT it, CAST(SUM(c) AS BIGINT) AS ni,
         |    SUM(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))) AS a
         |  FROM cells GROUP BY it
         |), top AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS nitems,
         |    CAST(MAX(ni) AS BIGINT) AS n, SUM(a) AS aa
         |  FROM per
         |), marg AS (
         |  SELECT l, CAST(SUM(c) AS BIGINT) AS ck FROM cells GROUP BY l
         |), bb AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS v,
         |    SUM(CAST(ck AS DECIMAL(38,0)) * CAST(ck AS DECIMAL(38,0))) AS b
         |  FROM marg
         |)
         |SELECT nitems AS n_items, n AS n_raters, v AS n_labels,
         |  ROUND(
         |    CAST((aa - nitems*n) * (nitems*n) - b*(n-1) AS DOUBLE)
         |    / CAST((n-1) * (CAST(nitems*n AS DECIMAL(38,0))*(nitems*n) - b)
         |        AS DOUBLE), 6) AS kappa6
         |FROM top, bb""".stripMargin

  /** Shared by q256 (the batch Krippendorff alpha), q282 (the
    * incremental cell fold), and q283 (the streaming monitor) — the
    * same maintained cell table serves kappa and alpha. */
  private val alphaPanelOracle: String =
    s"""WITH $annotationRatingsCte,
         |part AS (
         |  SELECT * FROM ratings
         |  WHERE ${hash32Sql(
             "'kr:' || substr(rater, 2, 10) || ':' || it")} % 5 < 3
         |), cells AS (
         |  SELECT it, l, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM part GROUP BY it, l
         |), per AS (
         |  SELECT it, CAST(SUM(c) AS BIGINT) AS ni,
         |    SUM(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))) AS sq
         |  FROM cells GROUP BY it HAVING SUM(c) >= 2
         |), s AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
         |    CAST(SUM(ni) AS BIGINT) AS n_tot,
         |    SUM(CAST(12 // (ni - 1) AS DECIMAL(38,0)) *
         |      (CAST(ni AS DECIMAL(38,0)) * ni - sq)) AS ds
         |  FROM per
         |), pc AS (
         |  SELECT l, CAST(SUM(c) AS BIGINT) AS ck
         |  FROM cells JOIN per USING (it) GROUP BY l
         |), cc AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS v,
         |    SUM(CAST(ck AS DECIMAL(38,0)) * CAST(ck AS DECIMAL(38,0))) AS sq
         |  FROM pc
         |)
         |SELECT n_items, n_tot AS n_ratings, v AS n_labels,
         |  ROUND(1.0 - CAST(ds * (n_tot - 1) AS DOUBLE)
         |    / CAST(12 * (CAST(n_tot AS DECIMAL(38,0)) * n_tot - cc.sq)
         |        AS DOUBLE), 6) AS alpha6
         |FROM s, cc""".stripMargin

  /** Shared by q258 (the batch Bradley–Terry fit), q284 (the
    * incremental win-count fold), and q285 (the streaming
    * leaderboard) — the BT likelihood depends on the comparisons only
    * through the directed win counts, which fold by SUM. */
  private val bradleyTerryOracle: String =
    s"""WITH RECURSIVE $preferencePairsCte,
         |dir AS (
         |  SELECT winner AS w, loser AS l, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM prefs GROUP BY winner, loser
         |), models AS (
         |  SELECT m, CAST(ROW_NUMBER() OVER (ORDER BY m) - 1 AS BIGINT) AS i
         |  FROM (SELECT DISTINCT m FROM
         |    (SELECT w AS m FROM dir UNION ALL SELECT l FROM dir))
         |), kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM models
         |), wmat AS (
         |  SELECT mw.i AS i, ml.i AS j, dir.c AS c
         |  FROM dir JOIN models mw ON mw.m = dir.w
         |  JOIN models ml ON ml.m = dir.l
         |), wins AS (SELECT i, CAST(SUM(c) AS BIGINT) AS wi FROM wmat GROUP BY i
         |), nmat AS (
         |  SELECT i, j, CAST(SUM(c) AS BIGINT) AS n
         |  FROM (SELECT i, j, c FROM wmat
         |    UNION ALL SELECT j AS i, i AS j, c FROM wmat)
         |  GROUP BY i, j
         |), nls AS (
         |  SELECT i, list(struct_pack(j := j, n := n) ORDER BY j) AS nl
         |  FROM nmat GROUP BY i
         |), state AS (
         |  SELECT 0 AS it,
         |    (SELECT list(CAST(1 AS DOUBLE) / kk.k ORDER BY m.i)
         |     FROM models m, kk) AS p
         |  UNION ALL
         |  SELECT it + 1,
         |    -- a lambda cannot capture the correlated recursive row, so
         |    -- the iteration vector joins into the subquery as a column
         |    (SELECT list(
         |        CAST(w.wi AS DOUBLE) / list_reduce(
         |          list_transform(nn.nl, x ->
         |            CAST(x.n AS DOUBLE) /
         |              (q.pp[CAST(nn.i AS INT) + 1] +
         |               q.pp[CAST(x.j AS INT) + 1])),
         |          (a, b) -> a + b)
         |      ORDER BY nn.i)
         |     FROM nls nn JOIN wins w ON w.i = nn.i
         |     CROSS JOIN (SELECT s.p AS pp) q)
         |  FROM state s WHERE s.it < 25
         |), fin AS (SELECT p FROM state WHERE it = 25
         |), tot AS (SELECT list_reduce(p, (a, b) -> a + b) AS t FROM fin
         |), rated AS (
         |  SELECT m.m AS model, w.wi AS n_wins,
         |    (SELECT CAST(SUM(n) AS BIGINT) FROM nmat WHERE nmat.i = m.i)
         |      AS n_comparisons,
         |    ROUND(fin.p[CAST(m.i AS INT) + 1] / tot.t, 6) AS rating6
         |  FROM models m JOIN wins w ON w.i = m.i, fin, tot
         |)
         |SELECT model, n_wins, n_comparisons, rating6,
         |  CAST(ROW_NUMBER() OVER (ORDER BY rating6 DESC, model)
         |    AS INTEGER) AS rnk
         |FROM rated ORDER BY rnk""".stripMargin

  /** Shared by q273 (the batch Brier/ECE audit), q286 (the
    * incremental state fold), and q287 (the streaming monitor) — the
    * per-bucket exact-decimal state folds by SUM. */
  private val brierEceOracle: String =
    s"""WITH sc AS (
         |  SELECT ${hash32Sql(
             "'cal:' || CAST(doc_id AS VARCHAR)")} / 4294967296.0 AS s,
         |    CASE WHEN CAST(${hash32Sql(
             "'lab:' || CAST(doc_id AS VARCHAR)")} % 1000 AS DOUBLE)
         |        < floor((${hash32Sql(
             "'cal:' || CAST(doc_id AS VARCHAR)")} / 4294967296.0) * 1000.0)
         |      THEN 1.0 ELSE 0.0 END AS y
         |  FROM documents
         |), b AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CAST(ROUND((s - y) * (s - y), 12)
         |      AS DECIMAL(38,12))) AS DOUBLE) AS bsum
         |  FROM sc
         |), binned AS (
         |  SELECT LEAST(GREATEST(
         |      CAST(FLOOR((s - 0.0) * 10.0 / (1.0 - 0.0)) AS INT), 0), 9)
         |      AS bucket,
         |    y, CAST(ROUND(s, 6) AS DECIMAL(28,6)) AS s6
         |  FROM sc
         |), per AS (
         |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS nb,
         |    CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS npos,
         |    SUM(s6) AS ssum
         |  FROM binned GROUP BY bucket
         |), ece AS (
         |  SELECT CAST(SUM(CAST(ROUND(
         |      (CAST(nb AS DOUBLE) / CAST(b.n AS DOUBLE)) *
         |        abs(CAST(npos AS DOUBLE) / CAST(nb AS DOUBLE)
         |          - CAST(ssum AS DOUBLE) / CAST(nb AS DOUBLE)), 12)
         |      AS DECIMAL(38,12))) AS DOUBLE) AS e
         |  FROM per, b
         |)
         |SELECT b.n, ROUND(bsum / CAST(b.n AS DOUBLE), 6) AS brier6,
         |  ROUND(e, 6) AS ece6
         |FROM b, ece""".stripMargin

  /** Shared by q254 (the batch consolidation), q288 (the incremental
    * cell fold), and q289 (the streaming monitor) — the consensus is
    * a function of the (item, label) cells alone. */
  private val consolidationOracle: String =
    s"""WITH $annotationCellsCte
         |SELECT it AS doc_id, l AS consensus_label, nr AS n_ratings,
         |  c AS n_consensus,
         |  ROUND(CAST(c AS DOUBLE) / CAST(nr AS DOUBLE), 6) AS confidence6
         |FROM w WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Shared by q290 (the batch per-source calibration audit), q291
    * (the incremental group-state fold), and q292 (the streaming
    * monitor). */
  private val groupCalibrationOracle: String =
    s"""WITH sc AS (
       |  SELECT source, ${hash32Sql(
           "'cal:' || CAST(doc_id AS VARCHAR)")} / 4294967296.0 AS s,
       |    CASE WHEN CAST(${hash32Sql(
           "'lab:' || CAST(doc_id AS VARCHAR)")} % 1000 AS DOUBLE)
       |        < floor((${hash32Sql(
           "'cal:' || CAST(doc_id AS VARCHAR)")} / 4294967296.0) * 1000.0)
       |      THEN 1.0 ELSE 0.0 END AS y
       |  FROM documents
       |), binned AS (
       |  SELECT source, LEAST(GREATEST(
       |      CAST(FLOOR((s - 0.0) * 10.0 / (1.0 - 0.0)) AS INT), 0), 9)
       |      AS bucket,
       |    y, CAST(ROUND(s, 6) AS DECIMAL(28,6)) AS s6,
       |    CAST(ROUND((s - y) * (s - y), 12) AS DECIMAL(38,12)) AS b12
       |  FROM sc
       |), st AS (
       |  SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS npos,
       |    SUM(s6) AS ssum, SUM(b12) AS bsum
       |  FROM binned GROUP BY source, bucket
       |), tot AS (
       |  SELECT source, CAST(SUM(n) AS BIGINT) AS ntot, SUM(bsum) AS btot
       |  FROM st GROUP BY source
       |), e AS (
       |  SELECT st.source,
       |    CAST(SUM(CAST(ROUND(
       |      (CAST(st.n AS DOUBLE) / CAST(tot.ntot AS DOUBLE)) *
       |        abs(CAST(st.npos AS DOUBLE) / CAST(st.n AS DOUBLE)
       |          - CAST(st.ssum AS DOUBLE) / CAST(st.n AS DOUBLE)), 12)
       |      AS DECIMAL(38,12))) AS DOUBLE) AS ece
       |  FROM st JOIN tot ON tot.source = st.source
       |  GROUP BY st.source
       |)
       |SELECT tot.source, tot.ntot AS n,
       |  ROUND(CAST(tot.btot AS DOUBLE) / CAST(tot.ntot AS DOUBLE), 6)
       |    AS brier6,
       |  ROUND(e.ece, 6) AS ece6
       |FROM tot JOIN e ON e.source = tot.source
       |ORDER BY tot.source""".stripMargin

  /** Shared by q295 (the batch vocabulary-richness estimate), q296
    * (the incremental frequency fold), and q297 (the streaming
    * monitor). */
  private val vocabRichnessOracle: String =
    """WITH tf AS (
      |  SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(string_split_regex(trim(text), ' +'))
      |          AS token
      |        FROM documents)
      |  GROUP BY token
      |), a AS (
      |  SELECT CAST(SUM(freq) AS BIGINT) AS n,
      |    CAST(COUNT(*) AS BIGINT) AS s,
      |    CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS f1,
      |    CAST(SUM(CASE WHEN freq = 2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS f2
      |  FROM tf
      |)
      |SELECT n AS n_tokens, s AS vocab, f1, f2,
      |  ROUND(CASE WHEN f2 > 0
      |      THEN CAST(s AS DOUBLE) +
      |        CAST(f1 * f1 AS DOUBLE) / CAST(2 * f2 AS DOUBLE)
      |      ELSE CAST(s AS DOUBLE) +
      |        CAST(f1 * (f1 - 1) AS DOUBLE) / 2.0 END, 6) AS chao1_6,
      |  ROUND(CAST(f1 AS DOUBLE) / CAST(n AS DOUBLE), 6)
      |    AS unseen_mass6
      |FROM a""".stripMargin

  /** Shared by q300 (the batch per-language richness), q301 (the
    * incremental group-keyed frequency fold), and q302 (the streaming
    * monitor). */
  private val groupVocabOracle: String =
    """WITH tf AS (
      |  SELECT g, token, CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM (SELECT lang AS g,
      |          unnest(string_split_regex(trim(text), ' +')) AS token
      |        FROM documents)
      |  GROUP BY g, token
      |), a AS (
      |  SELECT g, CAST(SUM(freq) AS BIGINT) AS n,
      |    CAST(COUNT(*) AS BIGINT) AS s,
      |    CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS f1,
      |    CAST(SUM(CASE WHEN freq = 2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS f2
      |  FROM tf GROUP BY g
      |)
      |SELECT g AS lang, n AS n_tokens, s AS vocab, f1, f2,
      |  ROUND(CASE WHEN f2 > 0
      |      THEN CAST(s AS DOUBLE) +
      |        CAST(CAST(f1 AS DECIMAL(38,0)) * f1 AS DOUBLE)
      |          / CAST(2 * CAST(f2 AS DECIMAL(38,0)) AS DOUBLE)
      |      ELSE CAST(s AS DOUBLE) +
      |        CAST(CAST(f1 AS DECIMAL(38,0)) * (f1 - 1) AS DOUBLE)
      |          / 2.0 END, 6) AS chao1_6,
      |  ROUND(CAST(f1 AS DOUBLE) / CAST(n AS DOUBLE), 6)
      |    AS unseen_mass6
      |FROM a ORDER BY lang""".stripMargin

  /** Shared by q257 (the batch pairwise win matrix), q303 (the
    * incremental win-count fold), and q304 (the streaming monitor). */
  private val pairwiseWinsOracle: String =
    s"""WITH $preferencePairsCte,
         |c AS (
         |  SELECT LEAST(winner, loser) AS model_a,
         |    GREATEST(winner, loser) AS model_b,
         |    CASE WHEN winner < loser THEN 1 ELSE 0 END AS aw
         |  FROM prefs
         |), g AS (
         |  SELECT model_a, model_b, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(aw) AS BIGINT) AS n_pass
         |  FROM c GROUP BY model_a, model_b
         |)
         |SELECT * FROM (${wilsonSql("model_a, model_b")})
         |ORDER BY model_a, model_b""".stripMargin

  private val hhiTokenMassOracle: String =
    """WITH d AS (
      |  SELECT CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT)
      |    AS x
      |  FROM documents WHERE text IS NOT NULL
      |), s AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS DECIMAL(38,0))) AS t,
      |    SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS s2
      |  FROM d
      |)
      |SELECT n, CAST(t AS BIGINT) AS total,
      |  ROUND(CAST(s2 AS DOUBLE) / CAST(t*t AS DOUBLE), 6) AS hhi6,
      |  CASE WHEN n > 1 THEN
      |    ROUND(CAST(n*s2 - t*t AS DOUBLE)
      |      / CAST(t*t*CAST(n-1 AS DECIMAL(38,0)) AS DOUBLE), 6)
      |  END AS hhi_norm6
      |FROM s""".stripMargin

  /** Shared by q241 (the batch per-group association audit), q266
    * (the incremental fold), and q267 (the streaming monitor) — three
    * formulations, one ground truth: group-keyed joint counts fold by
    * SUM. */
  private val groupAssociationOracle: String =
    """WITH t AS (
        |  SELECT CAST(event_id % 3 AS VARCHAR) AS g, event_type AS a,
        |    CAST(user_id % 7 AS VARCHAR) AS b
        |  FROM events
        |), j AS (
        |  SELECT g, a, b, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM t GROUP BY g, a, b
        |), ra AS (SELECT g, a, CAST(SUM(c) AS BIGINT) AS na
        |  FROM j GROUP BY g, a),
        |rb AS (SELECT g, b, CAST(SUM(c) AS BIGINT) AS nb
        |  FROM j GROUP BY g, b),
        |nn AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM j GROUP BY g),
        |rc AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS r FROM ra GROUP BY g),
        |cc AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c2 FROM rb GROUP BY g),
        |grid AS (
        |  SELECT ra.g AS g, COALESCE(j.c, 0) AS o,
        |    CAST(ra.na AS DOUBLE) * CAST(rb.nb AS DOUBLE)
        |      / CAST(nn.n AS DOUBLE) AS e,
        |    nn.n AS n
        |  FROM ra JOIN rb ON ra.g IS NOT DISTINCT FROM rb.g
        |  JOIN nn ON ra.g IS NOT DISTINCT FROM nn.g
        |  LEFT JOIN j ON ra.g IS NOT DISTINCT FROM j.g
        |    AND ra.a IS NOT DISTINCT FROM j.a
        |    AND rb.b IS NOT DISTINCT FROM j.b
        |), s AS (
        |  SELECT g, MAX(n) AS n,
        |    CAST(SUM(CAST(ROUND(
        |      (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e, 12)
        |      AS DECIMAL(38,12))) AS DOUBLE) AS chi2,
        |    CAST(SUM(CAST(ROUND(CASE WHEN o > 0
        |      THEN (CAST(o AS DOUBLE) / CAST(n AS DOUBLE))
        |        * ln(CAST(o AS DOUBLE) / e)
        |      ELSE 0.0 END, 12) AS DECIMAL(38,12))) AS DOUBLE) AS mi
        |  FROM grid GROUP BY g
        |)
        |SELECT s.g AS snapshot, s.n AS n, (rc.r - 1) * (cc.c2 - 1) AS dof,
        |  ROUND(chi2, 6) AS chi2_6,
        |  CASE WHEN LEAST(rc.r, cc.c2) > 1
        |    THEN ROUND(SQRT(chi2 / (CAST(s.n AS DOUBLE)
        |      * CAST(LEAST(rc.r, cc.c2) - 1 AS DOUBLE))), 6)
        |    ELSE NULL END AS cramers_v6,
        |  ROUND(mi, 6) AS mi6
        |FROM s JOIN rc ON s.g IS NOT DISTINCT FROM rc.g
        |JOIN cc ON s.g IS NOT DISTINCT FROM cc.g
        |ORDER BY snapshot""".stripMargin

  private val giniTokenMassOracle: String =
    """WITH d AS (
      |  SELECT CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT)
      |    AS x, doc_id
      |  FROM documents WHERE text IS NOT NULL
      |), r AS (
      |  SELECT x, ROW_NUMBER() OVER (ORDER BY x, CAST(doc_id AS VARCHAR))
      |    AS i
      |  FROM d
      |), s AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS DECIMAL(38,0))) AS t,
      |    SUM(CAST(i AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS s2
      |  FROM r
      |)
      |SELECT n, CAST(t AS BIGINT) AS total,
      |  ROUND(CAST(2 * s2 - (n + 1) * t AS DOUBLE)
      |    / CAST(n * t AS DOUBLE), 6) AS gini6
      |FROM s""".stripMargin

  /** Shared by q226 (the batch categorical-association audit) and
    * q232 (the streaming monitor) — two formulations, one ground
    * truth: joint contingency counts fold by SUM. */
  private val associationOracle: String =
    """WITH t AS (
      |  SELECT event_type AS a, CAST(user_id % 7 AS VARCHAR) AS b
      |  FROM events
      |), j AS (
      |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY a, b
      |), ra AS (SELECT a, CAST(SUM(c) AS BIGINT) AS na FROM j GROUP BY a),
      |rb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS nb FROM j GROUP BY b),
      |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM j),
      |grid AS (
      |  SELECT COALESCE(j.c, 0) AS o, ra.na, rb.nb,
      |    CAST(ra.na AS DOUBLE) * CAST(rb.nb AS DOUBLE)
      |      / CAST(nn.n AS DOUBLE) AS e,
      |    nn.n AS n
      |  FROM ra CROSS JOIN rb CROSS JOIN nn
      |  LEFT JOIN j ON ra.a IS NOT DISTINCT FROM j.a
      |    AND rb.b IS NOT DISTINCT FROM j.b
      |), s AS (
      |  SELECT MAX(n) AS n,
      |    CAST(SUM(CAST(ROUND(
      |      (CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e, 12)
      |      AS DECIMAL(38,12))) AS DOUBLE) AS chi2,
      |    CAST(SUM(CAST(ROUND(CASE WHEN o > 0
      |      THEN (CAST(o AS DOUBLE) / CAST(n AS DOUBLE))
      |        * ln(CAST(o AS DOUBLE) / e)
      |      ELSE 0.0 END, 12) AS DECIMAL(38,12))) AS DOUBLE) AS mi
      |  FROM grid
      |), d AS (
      |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ra) AS r,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM rb) AS c2
      |)
      |SELECT s.n AS n, (d.r - 1) * (d.c2 - 1) AS dof,
      |  ROUND(chi2, 6) AS chi2_6,
      |  ROUND(SQRT(chi2 / (CAST(s.n AS DOUBLE)
      |    * CAST(LEAST(d.r, d.c2) - 1 AS DOUBLE))), 6) AS cramers_v6,
      |  ROUND(mi, 6) AS mi6
      |FROM s CROSS JOIN d""".stripMargin

  /** Shared by q217 (the batch Poisson bootstrap CI) and q225 (the
    * streaming monitor) — two formulations, one ground truth: each
    * row's replicate weights are a pure function of (salt, b, id) and
    * the per-replicate partials merge by exact decimal SUM, so the
    * micro-batch split provably cannot move any replicate mean. */
  private val bootstrapCIOracle: String =
    """WITH ev AS (
      |  SELECT CAST(event_id AS VARCHAR) AS id, CAST(value AS DOUBLE) AS x
      |  FROM events WHERE value IS NOT NULL
      |), bs AS (SELECT unnest(range(100)) AS bi
      |), hw AS (
      |  SELECT bi, x,
      |    CAST(list_sum(list_transform(range(8), i ->
      |      (strpos('0123456789abcdef',
      |         substr(md5('boot1:' || CAST(bi AS VARCHAR) || ':' || id),
      |           CAST(i+1 AS INT), 1)) - 1) * 16**(7-i))) AS BIGINT) AS h
      |  FROM ev CROSS JOIN bs
      |), w AS (
      |  SELECT bi, x,
      |    CASE WHEN h < 1580030168 THEN 0
      |         WHEN h < 3160060337 THEN 1
      |         WHEN h < 3950075421 THEN 2
      |         WHEN h < 4213413783 THEN 3
      |         WHEN h < 4279248373 THEN 4
      |         WHEN h < 4292415291 THEN 5
      |         ELSE 6 END AS w
      |  FROM hw
      |), m AS (
      |  SELECT bi,
      |    CAST(SUM(CAST(ROUND(w * x, 9) AS DECIMAL(38,9))) AS DOUBLE)
      |      / CAST(SUM(w) AS DOUBLE) AS mm
      |  FROM w GROUP BY bi HAVING SUM(w) > 0
      |), base AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(CAST(ROUND(x, 9) AS DECIMAL(38,9))) AS DOUBLE)
      |      / COUNT(*) AS mean
      |  FROM ev
      |)
      |SELECT CAST(n AS BIGINT) AS n,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM m) AS n_boot,
      |  ROUND(mean, 6) AS mean6,
      |  ROUND((SELECT quantile_cont(mm, 0.025) FROM m), 6) AS lo6,
      |  ROUND((SELECT quantile_cont(mm, 0.975) FROM m), 6) AS hi6
      |FROM base""".stripMargin

  /** Shared by q116 (the batch point-in-time join) and q224 (the
    * streaming enrichment) — two formulations, one ground truth:
    * enrichment is per-fact-row independent, so the micro-batch
    * split provably cannot change any (order, segment) row. */
  private val scdJoinOracle: String =
    """WITH dim AS (
      |  SELECT c_custkey AS key, c_mktsegment AS segment,
      |    TIMESTAMP '1995-01-01' AS valid_from,
      |    CAST(DATE '1997-01-01'
      |      + ((c_custkey % 1000) * INTERVAL 1 DAY) AS TIMESTAMP)
      |      AS valid_to
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey, 'POST-' || c_mktsegment,
      |    CAST(DATE '1997-01-01'
      |      + ((c_custkey % 1000) * INTERVAL 1 DAY) AS TIMESTAMP),
      |    TIMESTAMP '9999-01-01'
      |  FROM customer
      |)
      |SELECT o.o_orderkey, o.o_custkey, d.segment
      |FROM orders o LEFT JOIN dim d
      |  ON o.o_custkey = d.key
      |  AND o.o_orderdate >= d.valid_from
      |  AND o.o_orderdate < d.valid_to
      |ORDER BY o.o_orderkey""".stripMargin

  /** Shared by q221 (batch), q222 (incremental fold), and q223 (the
    * streaming monitor) — three formulations, one ground truth: the
    * discrete rank-⌈p·n⌉ quantile over the full events value grid.
    * Counts fold by SUM, so the split/stream variants provably equal
    * this full recompute (the q131/q133 argument). Probabilities are
    * cast to DOUBLE before the rank multiply so both engines run the
    * identical IEEE product. */
  private val exactQuantilesOracle: String =
    """WITH c AS (
      |  SELECT CAST(value AS DOUBLE) AS v, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events WHERE value IS NOT NULL GROUP BY v
      |), cum AS (
      |  SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum FROM c
      |), n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c
      |), ps AS (
      |  SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS p
      |)
      |SELECT ps.p AS p, n.n AS n, MIN(cum.v) AS q
      |FROM ps CROSS JOIN n CROSS JOIN cum
      |WHERE cum.cum >= GREATEST(CAST(CEIL(ps.p * n.n) AS BIGINT), 1)
      |GROUP BY ps.p, n.n ORDER BY p""".stripMargin

  private val shotBoundariesOracle: String =
      """WITH m0 AS (
        |  SELECT doc_id AS media_id, hex(CAST(text AS BLOB)) AS hx
        |  FROM documents
        |  WHERE text IS NOT NULL AND length(hex(CAST(text AS BLOB)))//2 >= 144
        |), m AS (
        |  SELECT media_id,
        |    repeat(substr(hx, 1, 144), 4) || repeat(substr(hx, 145, 144), 4)
        |      AS hx2
        |  FROM m0
        |), fx AS (
        |  SELECT media_id, i, substr(hx2, CAST(i * 144 + 1 AS INT), 144) AS fhx
        |  FROM (SELECT media_id, hx2, unnest(range(8)) AS i FROM m)
        |), fl AS (
        |  SELECT media_id, i, fhx, length(fhx)//2 AS flen FROM fx
        |), c AS (
        |  SELECT media_id, i,
        |    list_transform(range(72), g ->
        |      CASE WHEN flen = 0 THEN 0 ELSE
        |        (strpos('0123456789ABCDEF',
        |           substr(fhx, CAST(((g*flen)//72)*2 + 1 AS INT), 1)) - 1) * 16
        |        + (strpos('0123456789ABCDEF',
        |           substr(fhx, CAST(((g*flen)//72)*2 + 2 AS INT), 1)) - 1)
        |      END) AS cell
        |  FROM fl
        |), p AS (
        |  SELECT media_id, i,
        |    CAST(list_sum(list_transform(range(32), b ->
        |      CASE WHEN cell[((b+32)//8)*9 + ((b+32)%8) + 1]
        |              < cell[((b+32)//8)*9 + ((b+32)%8) + 2]
        |        THEN 2**CAST(b AS INT) ELSE 0 END)) AS BIGINT) AS hi32,
        |    CAST(list_sum(list_transform(range(32), b ->
        |      CASE WHEN cell[(b//8)*9 + (b%8) + 1] < cell[(b//8)*9 + (b%8) + 2]
        |        THEN 2**CAST(b AS INT) ELSE 0 END)) AS BIGINT) AS lo32
        |  FROM c
        |), sg AS (
        |  SELECT media_id, i,
        |    CASE WHEN hi32 >= 2147483648
        |         THEN (hi32 - 4294967296)*4294967296 + lo32
        |         ELSE hi32*4294967296 + lo32 END AS sig
        |  FROM p
        |), d AS (
        |  SELECT media_id, i, sig,
        |    lag(sig) OVER (PARTITION BY media_id ORDER BY i) AS prev
        |  FROM sg
        |), k AS (
        |  SELECT media_id, i,
        |    CASE WHEN prev IS NOT NULL AND bit_count(xor(sig, prev)) > 8
        |      THEN 1 ELSE 0 END AS is_cut
        |  FROM d
        |)
        |SELECT media_id, COUNT(*) AS n_frames,
        |  CAST(SUM(is_cut) AS BIGINT) AS n_boundaries,
        |  COALESCE(array_to_string(
        |    list(i ORDER BY i) FILTER (WHERE is_cut = 1), ','), '')
        |    AS boundary_frames
        |FROM k GROUP BY media_id
        |ORDER BY media_id""".stripMargin

  private val dedupClustersOracle: String = componentsOracleCte +
    """
      |SELECT node AS doc_id, MIN(r) AS comp FROM reach
      |GROUP BY node ORDER BY doc_id""".stripMargin
  // q194 (incremental fold) is held to the identical labeling

  /** q210: batch peel over the SAME exact-Jaccard edge set — k=2 core
    * via 4 unrolled peel rounds (peeling is confluent and this graph's
    * fixpoint lands in round 1; extra rounds are idempotent, and the
    * engine side fails loudly long before 64 rounds if a future corpus
    * peels deeper than the unroll). Final degrees recount over the
    * surviving node set. */
  private val kCoreOracle: String = {
    val rounds = 4
    val levels = (1 to rounds).map { i =>
      s"""d$i AS (
         |  SELECT s2.a AS v, COUNT(*) AS d
         |  FROM sym s2 JOIN a${i - 1} x ON s2.a = x.v
         |               JOIN a${i - 1} y ON s2.b = y.v
         |  GROUP BY s2.a
         |), a$i AS (
         |  SELECT v FROM d$i WHERE d >= 2
         |)""".stripMargin
    }.mkString(",\n")
    componentsOracleCte +
      s""", a0 AS (SELECT DISTINCT a AS v FROM sym),
         |$levels
         |SELECT s2.a AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_degree
         |FROM sym s2 JOIN a$rounds x ON s2.a = x.v
         |             JOIN a$rounds y ON s2.b = y.v
         |GROUP BY s2.a ORDER BY doc_id""".stripMargin
  }

  /** q166: the component ground truth rolled up by cluster size with
    * char weights and min-id-retention removable mass. */
  private val dedupSavingsOracle: String = componentsOracleCte +
    """, comp AS (
      |  SELECT node, MIN(r) AS comp FROM reach GROUP BY node
      |), lab AS (
      |  SELECT d.doc_id, d.n_chars AS w, COALESCE(c.comp, d.doc_id) AS comp
      |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
      |), pc AS (
      |  SELECT comp, COUNT(*) AS sz, CAST(SUM(w) AS BIGINT) AS tw,
      |    CAST(MIN_BY(w, doc_id) AS BIGINT) AS repw
      |  FROM lab GROUP BY comp
      |)
      |SELECT sz AS cluster_size, COUNT(*) AS n_clusters,
      |  CAST(SUM(sz) AS BIGINT) AS n_docs,
      |  CAST(SUM(tw) AS BIGINT) AS total_weight,
      |  CAST(SUM(tw - repw) AS BIGINT) AS removable_weight
      |FROM pc GROUP BY sz ORDER BY sz""".stripMargin

  /** q74: the q46/q63 component ground truth extended with token
    * counts and the per-cluster argmax retention (row_number over
    * n_tokens desc, doc_id asc), singletons kept via the left join. */
  private val dedupRetainBestOracle: String = componentsOracleCte +
    """, comp AS (
      |  SELECT node, MIN(r) AS comp FROM reach GROUP BY node
      |), lab AS (
      |  SELECT tk.doc_id, CAST(len(tk.toks) AS INTEGER) AS n_tokens,
      |    COALESCE(c.comp, tk.doc_id) AS comp
      |  FROM tk LEFT JOIN comp c ON tk.doc_id = c.node
      |), w AS (
      |  SELECT doc_id, n_tokens,
      |    ROW_NUMBER() OVER (PARTITION BY comp
      |      ORDER BY n_tokens DESC, doc_id ASC) AS rn
      |  FROM lab
      |)
      |SELECT doc_id, n_tokens FROM w WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** ONE funnel ground truth: q92 (k-1 min-after joins) and q101 (one
    * sorted scan) are two formulations of the same greedy chain — both
    * held to this identical SQL, so a semantics drift in either
    * formulation fails its gate. */
  private val funnelOracle: String =
    """WITH s1 AS (
      |  SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id
      |), s2 AS (
      |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2 FROM events e
      |  JOIN s1 ON e.user_id = s1.user_id AND epoch_us(e.ts) > s1.t1
      |  WHERE e.event_type = 'click' GROUP BY e.user_id
      |), s3 AS (
      |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3 FROM events e
      |  JOIN s2 ON e.user_id = s2.user_id AND epoch_us(e.ts) > s2.t2
      |  WHERE e.event_type = 'purchase' GROUP BY e.user_id
      |)
      |SELECT s1.user_id,
      |  CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
      |            WHEN s2.t2 IS NOT NULL THEN 2 ELSE 1 END AS INTEGER)
      |    AS steps_reached,
      |  s1.t1 AS t1_us, s3.t3 AS tk_us, s3.t3 - s1.t1 AS delay_us
      |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
      |        LEFT JOIN s3 ON s1.user_id = s3.user_id
      |ORDER BY s1.user_id""".stripMargin

  /** q103: the BPE merge recurrence unrolled to 8 CTE levels — level i
    * counts adjacent symbol pairs of v_{i-1} (frequency-weighted, a
    * pure integer aggregation), picks the (cnt desc, a, b) argmax, and
    * rewrites the space-delimited symbol strings with ONE literal
    * replace — greedy left-to-right and symbol-aligned because every
    * symbol is wrapped in its own spaces (`" a  b "` can never match
    * mid-symbol; replace's non-overlapping scan IS the greedy merge).
    * Should the corpus run dry before 8 merges, m_i goes empty and the
    * cascade truncates on both engines identically. */
  /** Shared CTE prefix for q103/q105: word-frequency vocabulary, its
    * char-level symbol init (v0), and `n` unrolled merge-training
    * levels — level i's argmax lives in m$i, the rewritten vocabulary
    * in v$i. */
  /** The shared per-merge level CTEs (p_i/m_i/v_i) of the BPE
    * training replay — generic over whatever `v0` (space-wrapped
    * symbol reprs with word frequencies) feeds them, so the
    * char-level and byte-level oracles share one recurrence. */
  private def bpeLevelsCte(n: Int): String =
    (1 to n).map { i =>
      s"""p$i AS (
         |  SELECT pr[1] AS a, pr[2] AS b, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, unnest(list_transform(range(1, len(s)), j ->
         |      [s[CAST(j AS INT)], s[CAST(j + 1 AS INT)]])) AS pr
         |    FROM (SELECT freq, string_split(trim(repr), '  ') AS s FROM v${i - 1})
         |  ) GROUP BY 1, 2
         |), m$i AS (
         |  SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1
         |), v$i AS (
         |  SELECT w, freq, replace(repr, ' ' || a || '  ' || b || ' ',
         |    ' ' || a || b || ' ') AS repr
         |  FROM v${i - 1} CROSS JOIN m$i
         |)""".stripMargin
    }.mkString(",\n")

  private def bpeTrainingCte(n: Int): String =
    s"""words AS (
       |  SELECT w, COUNT(*) AS freq FROM (
       |    SELECT unnest(string_split_regex(trim(text), ' +')) AS w FROM documents
       |  ) WHERE length(w) > 0 GROUP BY w
       |), v0 AS (
       |  SELECT w, freq,
       |    ' ' || array_to_string(list_transform(range(1, length(w) + 1),
       |    i -> substr(w, CAST(i AS INT), 1)), '  ') || ' ' AS repr
       |  FROM words
       |),
       |${bpeLevelsCte(n)}""".stripMargin

  /** The byte↔unicode map as DuckDB SQL over an expression `w` —
    * interpolated from the SAME 256-char table the native expression
    * compiles ([[graft.expressions.ByteUnicode.Alphabet]], never a
    * pasted copy): per UTF-8 byte, hex-digit positions index the
    * table. */
  private def byteMapSql(w: String): String = {
    val alpha = graft.expressions.ByteUnicode.Alphabet.replace("'", "''")
    s"""array_to_string(list_transform(range(octet_length(encode($w))),
       |    i -> substr('$alpha',
       |      (strpos('0123456789ABCDEF',
       |         substr(hex(encode($w)), CAST(2*i+1 AS INT), 1)) - 1) * 16
       |      + strpos('0123456789ABCDEF',
       |          substr(hex(encode($w)), CAST(2*i+2 AS INT), 1)), 1)),
       |  '')""".stripMargin
  }

  /** q384/q385's shared training replay: the deterministic multi-byte
    * corpus (each document's text plus a doc_id-keyed non-ASCII
    * suffix), whitespace words BYTE-MAPPED through [[byteMapSql]],
    * then the identical merge recurrence over byte symbols. */
  private def byteBpeTrainingCte(n: Int): String =
    s"""docs2 AS (
       |  SELECT text || (CASE doc_id % 4
       |    WHEN 0 THEN ' café' WHEN 1 THEN ' naïve über'
       |    WHEN 2 THEN ' 日本語' ELSE ' żółć' END) AS text2
       |  FROM documents
       |), words AS (
       |  SELECT ${byteMapSql("w0")} AS w, COUNT(*) AS freq FROM (
       |    SELECT unnest(string_split_regex(trim(text2), ' +')) AS w0
       |    FROM docs2
       |  ) WHERE length(w0) > 0 GROUP BY 1
       |), v0 AS (
       |  SELECT w, freq,
       |    ' ' || array_to_string(list_transform(range(1, length(w) + 1),
       |    i -> substr(w, CAST(i AS INT), 1)), '  ') || ' ' AS repr
       |  FROM words
       |),
       |${bpeLevelsCte(n)}""".stripMargin

  /** q373/q374: the unigram-LM hard-EM recurrence replayed in SQL —
    * the q103 pattern at full depth. Per EM iteration: the add-one
    * 12dp fixed-point log table, the Viterbi DP UNROLLED per word
    * position (1..maxWordLen, ≤ maxTokenLen edges each, struct max on
    * (score, len) = the engine's exact tie rule), a recursive
    * back-walk over the stored edge lengths, and the path-count
    * aggregation. `MATERIALIZED` on every multiply-referenced CTE —
    * the dp chain would otherwise inline exponentially. */
  private def unigramCte(iters: Int, forEncode: Boolean): String = {
    val (maxTok, seed, maxW, vocab) = (4, 256, 16, 40)
    val parts = Seq.newBuilder[String]
    parts += s"""words AS MATERIALIZED (
      |  SELECT w, COUNT(*) AS freq FROM (
      |    SELECT unnest(string_split_regex(trim(text), ' +')) AS w
      |    FROM documents
      |  ) WHERE length(w) BETWEEN 1 AND $maxW GROUP BY w
      |)""".stripMargin
    parts += s"""subs AS MATERIALIZED (
      |  SELECT token, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
      |    SELECT freq, unnest(flatten(list_transform(
      |      range(1, length(w)+1), i ->
      |      list_transform(range(1, least($maxTok, length(w)-i+1)+1), l ->
      |        substr(w, CAST(i AS INT), CAST(l AS INT)))))) AS token
      |    FROM words)
      |  GROUP BY token
      |)""".stripMargin
    parts += ("sing AS MATERIALIZED (SELECT token, cnt FROM subs " +
      "WHERE length(token) = 1)")
    parts += s"""mult0 AS (
      |  SELECT token, cnt FROM (
      |    SELECT token, cnt, ROW_NUMBER() OVER
      |      (ORDER BY cnt * length(token) DESC, token) AS rn
      |    FROM subs WHERE length(token) > 1)
      |  WHERE rn <= $seed - (SELECT COUNT(*) FROM sing)
      |)""".stripMargin
    parts += ("cand0 AS MATERIALIZED (SELECT token, cnt FROM sing " +
      "UNION ALL SELECT token, cnt FROM mult0)")
    def emBlock(candSrc: String, sfx: String): Seq[String] = {
      val blk = Seq.newBuilder[String]
      blk += s"tot$sfx AS (SELECT CAST(SUM(cnt + 1) AS BIGINT) AS t " +
        s"FROM $candSrc)"
      blk += s"""lp$sfx AS MATERIALIZED (
        |  SELECT token, CAST(CAST(ROUND(ln((cnt + 1.0) / t), 12)
        |    AS DECIMAL(28,12)) * 1000000000000 AS BIGINT) AS lp
        |  FROM $candSrc, tot$sfx
        |)""".stripMargin
      blk += s"""unk$sfx AS (
        |  SELECT CAST(CAST(ROUND(ln(1.0 / t), 12) AS DECIMAL(28,12))
        |    * 1000000000000 AS BIGINT) AS lp FROM tot$sfx
        |)""".stripMargin
      for (j <- 1 to maxW) {
        val branches = (1 to math.min(maxTok, j)).map { l =>
          val prev = if (j - l == 0) "CAST(0 AS BIGINT)" else "p.st.score"
          val pjoin = if (j - l == 0) ""
            else s"\n    JOIN dp${sfx}_${j - l} p ON p.w = d.w"
          if (l == 1)
            s"""    SELECT d.w, $prev + COALESCE(c.lp, u.lp) AS sc,
              |      CAST(1 AS INT) AS l
              |    FROM words d$pjoin
              |    LEFT JOIN lp$sfx c ON c.token = substr(d.w, $j, 1)
              |    CROSS JOIN unk$sfx u
              |    WHERE length(d.w) >= $j""".stripMargin
          else
            s"""    SELECT d.w, $prev + c.lp AS sc, CAST($l AS INT) AS l
              |    FROM words d$pjoin
              |    JOIN lp$sfx c ON c.token = substr(d.w, ${j - l + 1}, $l)
              |    WHERE length(d.w) >= $j""".stripMargin
        }
        blk += s"""dp${sfx}_$j AS MATERIALIZED (
          |  SELECT w, max({'score': sc, 'len': l}) AS st FROM (
          |${branches.mkString("\n    UNION ALL\n")}
          |  ) GROUP BY w
          |)""".stripMargin
      }
      blk += s"""dpall$sfx AS MATERIALIZED (
        |${(1 to maxW).map(j =>
             s"  SELECT w, $j AS pos, st.len AS len FROM dp${sfx}_$j")
             .mkString("\n  UNION ALL\n")}
        |)""".stripMargin
      blk += s"""walk$sfx AS (
        |  SELECT w, freq, length(w) AS pos, CAST([] AS VARCHAR[]) AS toks
        |  FROM words
        |  UNION ALL
        |  SELECT k.w, k.freq, k.pos - d.len,
        |    list_prepend(substr(k.w, k.pos - d.len + 1, d.len), k.toks)
        |  FROM walk$sfx k JOIN dpall$sfx d ON d.w = k.w AND d.pos = k.pos
        |  WHERE k.pos > 0
        |)""".stripMargin
      blk += s"""cnt$sfx AS MATERIALIZED (
        |  SELECT token, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
        |    SELECT freq, unnest(toks) AS token FROM walk$sfx WHERE pos = 0)
        |  GROUP BY token
        |)""".stripMargin
      blk.result()
    }
    for (it <- 1 to iters) {
      parts ++= emBlock(s"cand${it - 1}", it.toString)
      parts += s"""cand$it AS MATERIALIZED (
        |  SELECT s.token, COALESCE(c.cnt, 0) AS cnt
        |  FROM sing s LEFT JOIN cnt$it c USING (token)
        |  UNION ALL
        |  SELECT m.token, c.cnt
        |  FROM cand${it - 1} m JOIN cnt$it c USING (token)
        |  WHERE length(m.token) > 1 AND c.cnt > 0
        |)""".stripMargin
    }
    parts += s"""finv AS MATERIALIZED (
      |  SELECT token, cnt FROM cand$iters WHERE length(token) = 1
      |  UNION ALL
      |  SELECT token, cnt FROM (
      |    SELECT token, cnt, ROW_NUMBER() OVER
      |      (ORDER BY cnt DESC, token) AS rn
      |    FROM cand$iters WHERE length(token) > 1)
      |  WHERE rn <= $vocab - (SELECT COUNT(*) FROM sing)
      |)""".stripMargin
    if (forEncode) parts ++= emBlock("finv", "e")
    parts.result().mkString(",\n")
  }

  private val unigramTrainOracle: String =
    s"""WITH RECURSIVE ${unigramCte(2, forEncode = false)},
      |ftot AS (SELECT CAST(SUM(cnt + 1) AS BIGINT) AS t FROM finv)
      |SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rank,
      |  token, cnt AS freq, ROUND(ln((cnt + 1.0) / t), 6) AS logp6
      |FROM finv, ftot ORDER BY rank""".stripMargin

  private val unigramEncodeOracle: String =
    s"""WITH RECURSIVE ${unigramCte(2, forEncode = true)}
      |SELECT token, cnt AS freq FROM cnte
      |ORDER BY freq DESC, token LIMIT 50""".stripMargin

  /** q380: the encode lattice + per-document reconstruction (the
    * bpeIdsOracle shape) — each doc's words in order, each word's
    * Viterbi segmentation, positions by (word order, subword order),
    * ids from the (freq DESC, token) ranking over the encoded
    * stream. */
  private val unigramIdsOracle: String =
    s"""WITH RECURSIVE ${unigramCte(2, forEncode = true)},
      |docw AS (
      |  SELECT doc_id, unnest(list_transform(range(len(toks)), i ->
      |    {'wo': i, 'w': toks[CAST(i + 1 AS INT)]})) AS u
      |  FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
      |        FROM documents)
      |), dw AS (
      |  SELECT doc_id, u.wo AS word_ord, u.w AS w FROM docw
      |  WHERE length(u.w) > 0
      |), segt AS (
      |  SELECT w, toks FROM walke WHERE pos = 0
      |), subt AS (
      |  SELECT doc_id, word_ord,
      |    unnest(list_transform(range(len(s.toks)), j ->
      |      {'so': j, 'tok': s.toks[CAST(j + 1 AS INT)]})) AS v
      |  FROM dw JOIN segt s ON dw.w = s.w
      |), post AS (
      |  SELECT doc_id, v.tok AS token,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY word_ord, v.so) - 1 AS pos
      |  FROM subt
      |), vocab AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, token) - 1
      |    AS token_id, token
      |  FROM cnte
      |)
      |SELECT p.doc_id, CAST(p.pos AS INT) AS pos, v.token_id
      |FROM post p JOIN vocab v USING (token)
      |ORDER BY doc_id, pos""".stripMargin

  /** q381: per-doc subword counts from the trained lattice (the
    * bpePackOracle shape), then the 256-subword running window. */
  private val unigramPackOracle: String =
    s"""WITH RECURSIVE ${unigramCte(2, forEncode = true)},
      |docw AS (
      |  SELECT doc_id, unnest(list_transform(range(len(toks)), i ->
      |    {'wo': i, 'w': toks[CAST(i + 1 AS INT)]})) AS u
      |  FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
      |        FROM documents WHERE text IS NOT NULL)
      |), dw AS (
      |  SELECT doc_id, u.w AS w FROM docw WHERE length(u.w) > 0
      |), segt AS (
      |  SELECT w, toks FROM walke WHERE pos = 0
      |), cntd AS (
      |  SELECT dw.doc_id, CAST(SUM(len(s.toks)) AS BIGINT) AS n_subwords
      |  FROM dw JOIN segt s ON dw.w = s.w
      |  GROUP BY dw.doc_id
      |), base AS (
      |  SELECT d.doc_id, COALESCE(c.n_subwords, 0) AS n_subwords
      |  FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
      |  LEFT JOIN cntd c USING (doc_id)
      |)
      |SELECT doc_id, n_subwords,
      |  CAST(COALESCE(SUM(n_subwords) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |    AS start_offset,
      |  CAST(FLOOR(COALESCE(SUM(n_subwords) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256.0)
      |    AS BIGINT) AS seq_id
      |FROM base ORDER BY doc_id""".stripMargin

  /** q377: the exact-decimal adjugate replayed SYMBOLICALLY — the
    * top-level determinant SQL is generated by
    * [[graft.functions.ExactLinAlg.det12Sql]], the symbolic twin of
    * the driver's fraction-free Bareiss recurrence (identical pivot
    * order, 12dp products, double-division rounding); the 2×2
    * cofactors keep this literal minor-expansion generator, whose
    * size-≤2 values `ExactLinAlg.cofactor12` reproduces exactly.
    * Inner results (re-multiplied) ride DECIMAL(18,12); the top level
    * (never re-multiplied) widens to DECIMAL(30,12) — the sf0.01
    * magnitude envelope, documented, driver side is unbounded
    * BigDecimal. */
  private def logisticMul12Sql(a: String, b: String, wide: Boolean): String = {
    val out = if (wide) "DECIMAL(30,12)" else "DECIMAL(18,12)"
    s"CAST(ROUND(CAST($a AS DECIMAL(18,12)) * CAST($b AS DECIMAL(18,12)), " +
      s"12) AS $out)"
  }

  private def logisticDetSql(
      mx: Vector[Vector[String]], wide: Boolean): String =
    if (mx.isEmpty) "CAST(1 AS DECIMAL(18,12))"
    else if (mx.size == 1) s"CAST(${mx(0)(0)} AS DECIMAL(18,12))"
    else mx(0).indices.map { c =>
      val minor = mx.tail.map(r => r.patch(c, Nil, 1))
      val t = logisticMul12Sql(
        mx(0)(c), logisticDetSql(minor, wide = false), wide)
      if (c % 2 == 0) s"+ $t" else s"- $t"
    }.mkString("(", " ", ")")

  private val logisticGateOracle: String = {
    val (m, iters) = (3, 3)
    val h = Vector.tabulate(m, m)((a, b) =>
      if (a <= b) s"h_${a}_$b" else s"h_${b}_$a")
    val parts = Seq.newBuilder[String]
    parts += """feat AS MATERIALIZED (
      |  SELECT doc_id,
      |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
      |    CAST(n_chars AS DOUBLE) / 1000.0 AS x1,
      |    CAST(len(string_split_regex(trim(text), ' +')) AS DOUBLE)
      |      / 100.0 AS x2
      |  FROM documents
      |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL
      |    AND text IS NOT NULL
      |)""".stripMargin
    parts += "beta0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2)"
    for (i <- 1 to iters) {
      parts += s"""mu$i AS (
        |  SELECT y, x1, x2,
        |    1.0/(1.0 + exp(-((1.0*b0 + x1*b1) + x2*b2))) AS mu
        |  FROM feat, beta${i - 1}
        |)""".stripMargin
      parts += s"""s$i AS MATERIALIZED (
        |  SELECT
        |    SUM(CAST(ROUND(y - mu, 12) AS DECIMAL(38,12))) AS g_0,
        |    SUM(CAST(ROUND(x1 * (y - mu), 12) AS DECIMAL(38,12))) AS g_1,
        |    SUM(CAST(ROUND(x2 * (y - mu), 12) AS DECIMAL(38,12))) AS g_2,
        |    SUM(CAST(ROUND(mu * (1.0 - mu), 12) AS DECIMAL(38,12)))
        |      AS h_0_0,
        |    SUM(CAST(ROUND(x1 * (mu * (1.0 - mu)), 12) AS DECIMAL(38,12)))
        |      AS h_0_1,
        |    SUM(CAST(ROUND(x2 * (mu * (1.0 - mu)), 12) AS DECIMAL(38,12)))
        |      AS h_0_2,
        |    SUM(CAST(ROUND(x1 * x1 * (mu * (1.0 - mu)), 12)
        |      AS DECIMAL(38,12))) AS h_1_1,
        |    SUM(CAST(ROUND(x1 * x2 * (mu * (1.0 - mu)), 12)
        |      AS DECIMAL(38,12))) AS h_1_2,
        |    SUM(CAST(ROUND(x2 * x2 * (mu * (1.0 - mu)), 12)
        |      AS DECIMAL(38,12))) AS h_2_2
        |  FROM mu$i
        |)""".stripMargin
      // top-level det replays the driver's fraction-free Bareiss
      // recurrence (ExactLinAlg.det12 / det12Sql — same fixed pivot
      // order, same 12dp products, same double-division rounding);
      // the 2×2 cofactors below keep the literal minor form, which
      // ExactLinAlg.cofactor12 reproduces value-for-value at size 2
      val det = graft.functions.ExactLinAlg.det12Sql(h, wide = true)
      val nums = (0 until m).map { j =>
        (0 until m).map { gi =>
          val minor = Vector.tabulate(m - 1, m - 1)((r, c) =>
            h(if (r < gi) r else r + 1)(if (c < j) c else c + 1))
          val cofAbs = logisticDetSql(minor, wide = false)
          val signed =
            if ((gi + j) % 2 == 0) cofAbs else s"(- $cofAbs)"
          s"+ ${logisticMul12Sql(s"g_$gi", signed, wide = true)}"
        }.mkString("(", " ", ")")
      }
      parts += s"""beta$i AS (
        |  SELECT
        |    ROUND(b0 + CAST(${nums(0)} AS DOUBLE)
        |      / CAST($det AS DOUBLE), 12) AS b0,
        |    ROUND(b1 + CAST(${nums(1)} AS DOUBLE)
        |      / CAST($det AS DOUBLE), 12) AS b1,
        |    ROUND(b2 + CAST(${nums(2)} AS DOUBLE)
        |      / CAST($det AS DOUBLE), 12) AS b2
        |  FROM beta${i - 1}, s$i
        |)""".stripMargin
    }
    s"""WITH ${parts.result().mkString(",\n")}
      |SELECT doc_id, y = 1.0 AS label,
      |  ROUND((1.0*b0 + x1*b1) + x2*b2, 6) AS log_odds6,
      |  ROUND((1.0*b0 + x1*b1) + x2*b2, 6) > 0.0 AS predicted
      |FROM feat, beta$iters ORDER BY doc_id""".stripMargin
  }

  private val bpeOracle: String = {
    val n = 8
    val union = (1 to n).map { i =>
      s"SELECT $i AS merge_rank, a AS lhs, b AS rhs, a || b AS merged, " +
        s"cnt AS pair_freq FROM m$i"
    }.mkString("\nUNION ALL\n")
    s"""WITH ${bpeTrainingCte(n)}
       |$union
       |ORDER BY merge_rank""".stripMargin
  }

  /** q384: the byte-level merge table — byte mapping + all 8 levels
    * replayed. */
  private val byteBpeOracle: String = {
    val n = 8
    val union = (1 to n).map { i =>
      s"SELECT $i AS merge_rank, a AS lhs, b AS rhs, a || b AS merged, " +
        s"cnt AS pair_freq FROM m$i"
    }.mkString("\nUNION ALL\n")
    s"""WITH ${byteBpeTrainingCte(n)}
       |$union
       |ORDER BY merge_rank""".stripMargin
  }

  /** q385: byte-level token frequencies via the end-of-training repr
    * invariant (encode(word) == the word's final training repr). */
  private val byteBpeEncodeOracle: String = {
    val n = 8
    s"""WITH ${byteBpeTrainingCte(n)}
       |SELECT token, CAST(SUM(freq) AS BIGINT) AS freq FROM (
       |  SELECT freq, unnest(string_split(trim(repr), '  ')) AS token FROM v$n
       |)
       |GROUP BY token
       |ORDER BY freq DESC, token
       |LIMIT 50""".stripMargin
  }

  /** q107: training CTEs + per-document reconstruction — each doc's
    * words in order, each word's end-of-training subword split (the
    * q105 invariant), positions by (word order, subword order), ids
    * from the (freq DESC, token) ranking over the encoded stream. */
  private val bpeIdsOracle: String = {
    val n = 8
    s"""WITH ${bpeTrainingCte(n)},
       |docw AS (
       |  SELECT doc_id, unnest(list_transform(range(len(toks)), i ->
       |    {'wo': i, 'w': toks[CAST(i + 1 AS INT)]})) AS u
       |  FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
       |        FROM documents)
       |), dw AS (
       |  SELECT doc_id, u.wo AS word_ord, u.w AS w FROM docw
       |  WHERE length(u.w) > 0
       |), sub AS (
       |  SELECT doc_id, word_ord, unnest(list_transform(range(len(s)), j ->
       |    {'so': j, 'tok': s[CAST(j + 1 AS INT)]})) AS v
       |  FROM (SELECT dw.doc_id, dw.word_ord,
       |          string_split(trim(v.repr), '  ') AS s
       |        FROM dw JOIN v$n v ON dw.w = v.w)
       |), pos AS (
       |  SELECT doc_id, v.tok AS token,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY word_ord, v.so) - 1 AS pos
       |  FROM sub
       |), vfreq AS (
       |  SELECT token, CAST(SUM(freq) AS BIGINT) AS freq FROM (
       |    SELECT freq, unnest(string_split(trim(repr), '  ')) AS token
       |    FROM v$n)
       |  GROUP BY token
       |), vocab AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY freq DESC, token) - 1 AS token_id,
       |    token
       |  FROM vfreq
       |)
       |SELECT p.doc_id, CAST(p.pos AS INT) AS pos, v.token_id
       |FROM pos p JOIN vocab v USING (token)
       |ORDER BY doc_id, pos""".stripMargin
  }

  /** q108: per-doc subword counts from the end-of-training vocabulary
    * states (q107's reconstruction, aggregated), then q54's running
    * window over doc order with the 256-subword budget. */
  private val bpePackOracle: String = {
    val n = 8
    s"""WITH ${bpeTrainingCte(n)},
       |docw AS (
       |  SELECT doc_id, unnest(list_transform(range(len(toks)), i ->
       |    {'wo': i, 'w': toks[CAST(i + 1 AS INT)]})) AS u
       |  FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
       |        FROM documents WHERE text IS NOT NULL)
       |), dw AS (
       |  SELECT doc_id, u.w AS w FROM docw WHERE length(u.w) > 0
       |), cnt AS (
       |  SELECT dw.doc_id,
       |    CAST(SUM(len(string_split(trim(v.repr), '  '))) AS BIGINT)
       |      AS n_subwords
       |  FROM dw JOIN v$n v ON dw.w = v.w
       |  GROUP BY dw.doc_id
       |), base AS (
       |  SELECT d.doc_id, COALESCE(c.n_subwords, 0) AS n_subwords
       |  FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
       |  LEFT JOIN cnt c USING (doc_id)
       |)
       |SELECT doc_id, n_subwords,
       |  CAST(COALESCE(SUM(n_subwords) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS start_offset,
       |  CAST(FLOOR(COALESCE(SUM(n_subwords) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256.0)
       |    AS BIGINT) AS seq_id
       |FROM base ORDER BY doc_id""".stripMargin
  }

  /** q105: the defining BPE-encode invariant — applying the learned
    * merges in rank order to a raw word reproduces that word's
    * END-OF-TRAINING symbol state (training rewrites the vocabulary
    * with each merge as it is learned, in the same order, with the
    * same replace), so the corpus-wide encoded-subword counts are
    * exactly v8's symbols weighted by word frequency. The engine side
    * computes the LEFT side of that invariant (a collected merge
    * table re-applied from scratch by [[graft.operators.Corpus
    * .bpeEncode]]); the oracle computes the right side. */
  private val bpeEncodeOracle: String = {
    val n = 8
    s"""WITH ${bpeTrainingCte(n)}
       |SELECT token, CAST(SUM(freq) AS BIGINT) AS freq FROM (
       |  SELECT freq, unnest(string_split(trim(repr), '  ')) AS token FROM v$n
       |)
       |GROUP BY token
       |ORDER BY freq DESC, token
       |LIMIT 50""".stripMargin
  }

  /** q96: the same exact-Jaccard pair prefix feeding a 3-iteration
    * unrolled PageRank recurrence (uniform start, damping 0.85,
    * teleport (1-d)/N over the symmetric node set). */
  private val pageRankOracle: String = componentsOracleCte +
    """, nodes AS (SELECT DISTINCT a AS v FROM sym
      |), nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
      |), deg AS (
      |  SELECT a AS v, CAST(COUNT(*) AS DOUBLE) AS od FROM sym GROUP BY a
      |), r0 AS (
      |  SELECT v, 1.0 / (SELECT n FROM nn) AS r FROM nodes
      |), r1 AS (
      |  SELECT s2.b AS v, 0.15 / (SELECT n FROM nn)
      |    + 0.85 * SUM(r0.r / d.od) AS r
      |  FROM sym s2 JOIN r0 ON s2.a = r0.v JOIN deg d ON s2.a = d.v
      |  GROUP BY s2.b
      |), r2 AS (
      |  SELECT s2.b AS v, 0.15 / (SELECT n FROM nn)
      |    + 0.85 * SUM(r1.r / d.od) AS r
      |  FROM sym s2 JOIN r1 ON s2.a = r1.v JOIN deg d ON s2.a = d.v
      |  GROUP BY s2.b
      |), r3 AS (
      |  SELECT s2.b AS v, 0.15 / (SELECT n FROM nn)
      |    + 0.85 * SUM(r2.r / d.od) AS r
      |  FROM sym s2 JOIN r2 ON s2.a = r2.v JOIN deg d ON s2.a = d.v
      |  GROUP BY s2.b
      |)
      |SELECT v AS doc_id, ROUND(r, 6) AS rank6 FROM r3 ORDER BY v""".stripMargin
}
