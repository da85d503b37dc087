package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.GraftFunctions
import graft.functions.TextFunctions

/** Deduplication operators for large-scale corpus pipelines: exact
  * (hash-keyed), MinHash+LSH, SimHash, and windowed n-gram Jaccard.
  * No reference counterpart — LLM-pipeline extensions designed
  * shuffle-bounded for 100 TB (every stage is a hash shuffle on a
  * bounded key or a bucket-local pair expansion; nothing is O(n²) on
  * the full corpus).
  */
object Dedup {

  /** Exact dedup: keep exactly one row per key, the one with the lowest
    * `orderCol` (deterministic, unlike dropDuplicates; ties impossible
    * when orderCol is unique).
    *
    * Formulated as an ALGEBRAIC aggregation — `min_by(struct(cols),
    * orderCol)` — not a window `row_number`: the aggregate gets
    * map-side partial aggregation, so each executor reduces its own
    * duplicates before the shuffle and a skewed key ships one
    * pre-reduced row per map task instead of dragging every duplicate
    * into a single sorted partition. At 100 TB with a degenerate key
    * (e.g. the empty document) that is the difference between a working
    * job and a straggler. */
  def exactDedup(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val payload = df.columns.filterNot(keys.contains)
    df.groupBy(keys.map(col): _*)
      .agg(min_by(struct(payload.map(col): _*), col(orderCol)).as("__row"))
      .select(keys.map(col) ++ payload.map(c => col(s"__row.$c").as(c)): _*)
      // restore the input column order
      .select(df.columns.map(col): _*)
  }

  /** Winner ids only: the shuffle carries just (keys, orderCol) pairs.
    * [[exactDedup]] ships every surviving row's full payload through
    * its shuffle (min_by of the whole-row struct) — right when the
    * output IS the deduped corpus. When payloads are heavy (full
    * document text) and the caller only needs survivor identities, or
    * will fetch a selective subset later, this variant keeps the
    * shuffle payload-free. */
  def exactDedupIds(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(min(col(orderCol)).as(orderCol))

  /** [[exactDedupIds]] as a [[FoldMonitor]] over the (key, id) feed:
    * the per-key min-id winners fold by RE-MINNING. Min is associative
    * and commutative, so arrival order cannot change a winner, which
    * is strictly stronger than a first-shard-wins ledger. The
    * canonical-URL registry that stays current as the crawl lands:
    * state is one (key, id) row per distinct key. Returns the winner
    * table ordered by key. */
  def keyDedupMonitor(keyCol: String, idCol: String): FoldMonitor =
    FoldMonitor("keyDedupMonitor", _.select(keyCol, idCol),
      exactDedupIds(_, Seq(keyCol), idCol),
      (base, delta) =>
        exactDedupIds(base.unionByName(delta), Seq(keyCol), idCol),
      _.orderBy(keyCol))

  /** Window-sort formulation of [[exactDedup]] — same result, one
    * per-key sorted pass. Prefer the algebraic form; this exists for
    * rank-dependent generalizations (keep top-N per key). */
  def exactDedupViaWindow(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact text dedup on the md5 fingerprint of normalized text. The
    * normalization runs through the native single-pass
    * [[graft.expressions.CleanAsciiText]] (byte-identical to the
    * two-regex composed form on lowercased input, ~one regex-engine
    * pass cheaper per document). */
  def exactTextDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    exactDedup(
      df.withColumn("__fp",
        md5(GraftFunctions.cleanText(df, lower(col(textCol))))),
      Seq("__fp"), idCol).drop("__fp")

  /** Incremental exact dedup: the shard-ingestion step of a growing
    * corpus — keep rows of `incoming` whose normalized-text fingerprint
    * (a) has never been seen (`seenFps`, the fingerprint ledger from
    * previous shards) and (b) is first (min `idCol`) within `incoming`
    * itself. Append the kept rows' fingerprints to the ledger and the
    * operation composes: dedup state is ONE fingerprint column, not the
    * prior corpus, so ingesting shard N reads N-1 ledgers' worth of
    * 16-byte hashes instead of re-scanning 100 TB of text.
    *
    * Scale shape: winner selection ships payload-free (fingerprint,
    * id) pairs through a map-side-combined min; the ledger anti join
    * shuffles fingerprints only (distinct-ed on the build side); the
    * final semi join restores full payloads for winners. For a ledger
    * small enough to sketch, pre-pruning `incoming` with a
    * [[Bloom.bloomPrunedJoin]]-style membership probe (inverted: drop
    * probable members early) cuts the anti-join exchange further —
    * composition left to the call site.
    *
    * NULL handling (pinned by q87's oracle): a NULL fingerprint never
    * matches the ledger — the anti join's null-rejecting equality is
    * SQL `NOT EXISTS`, not `NOT IN`, semantics — so null-text rows are
    * KEPT, collapsed to one winner (NULL is a single group on both
    * engines' GROUP BY). A NULL in the ledger matches nothing. */
  def incrementalExactDedup(
      incoming: DataFrame,
      textCol: String,
      idCol: String,
      seenFps: DataFrame,
      fpCol: String): DataFrame = {
    val withFp = incoming.withColumn("__fp",
      md5(GraftFunctions.cleanText(incoming, lower(col(textCol)))))
    val winners = withFp
      .groupBy(col("__fp")).agg(min(col(idCol)).as(idCol))
      .join(seenFps.select(col(fpCol).as("__fp")).distinct(),
        Seq("__fp"), "left_anti")
    incoming.join(winners.select(col(idCol)), Seq(idCol), "left_semi")
  }

  /** Incremental KEY-keyed exact dedup — [[incrementalExactDedup]]'s
    * generic twin for a PRECOMPUTED key column (a normalized URL, an
    * external fingerprint): keep rows of `incoming` whose key (a) is
    * absent from the `seenKeys` ledger and (b) is first (min `idCol`)
    * within `incoming` itself. Ids must be unique within `incoming`
    * (the winner id names its row). NULL keys follow the text twin's
    * pinned rule: never match the ledger (NOT-EXISTS semantics), kept
    * collapsed to one winner. Same scale shape: payload-free
    * (key, id) mins through one map-side-combined aggregation, a
    * keys-only anti join, one semi join to restore payloads. */
  def incrementalKeyDedup(
      incoming: DataFrame,
      keyCol: String,
      idCol: String,
      seenKeys: DataFrame,
      seenKeyCol: String): DataFrame = {
    val winners = incoming
      .groupBy(col(keyCol)).agg(min(col(idCol)).as(idCol))
      .join(seenKeys.select(col(seenKeyCol).as(keyCol)).distinct(),
        Seq(keyCol), "left_anti")
    incoming.join(winners.select(col(idCol)), Seq(idCol), "left_semi")
  }

  /** MinHash signature of a distinct-shingle array: k independent hash
    * functions realized as seeded xxhash64 (shingle, seed i), each taking
    * the min over the shingle set.
    *
    * This is the portable composed-builtins formulation (single pass,
    * element-wise running min via `aggregate` + `zip_with(least)`).
    * The LSH pipeline itself uses the native
    * [[graft.expressions.MinHashSig]] expression instead — same recipe
    * inside one Janino-compiled loop, with none of the per-step array
    * allocation interpreted higher-order functions pay. */
  def minHashSignature(shingles: Column, k: Int): Column = {
    // Hash each variable-length shingle STRING once (the expensive step),
    // then derive the k seeded values by re-hashing the resulting 8-byte
    // long with the seed: h_i = xxhash64(h, i). Multi-arg xxhash64 is a
    // codegen'd built-in with no overflow arithmetic, so it is safe under
    // Spark 4's default ANSI mode (integer-mixing constants like
    // Kirsch-Mitzenmacher rely on Long wrap-around, which ANSI rejects
    // with ARITHMETIC_OVERFLOW).
    val hashed = transform(shingles, s => xxhash64(s))
    aggregate(
      hashed,
      array_repeat(lit(Long.MaxValue), k),
      (acc, h) => zip_with(acc,
        transform(sequence(lit(1), lit(k)), i => xxhash64(h, i)),
        (a, v) => least(a, v)))
  }

  /** LSH band keys for a signature: `bands` hashes, each over a
    * contiguous `rows`-wide slice. Emitted as structs (band, key). */
  def lshBandKeys(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"), xxhash64(slice(sig, b * rows + 1, lit(rows))).as("key")))

  /** Candidate near-duplicate pairs by MinHash+LSH, verified with exact
    * shingle Jaccard.
    *
    * Plan at scale: shingle+sign each doc (map-only) -> explode to
    * (band, key) -> hash shuffle on the band key -> per-bucket pair
    * expansion via self-join -> distinct candidates -> join signatures'
    * shingle sets back (hash joins on id) -> exact Jaccard filter.
    * Only bucket-local pairs are ever materialized, so cost tracks the
    * number of colliding pairs, not n². Skew guard: buckets larger than
    * `maxBucket` are dropped (a giant bucket means a degenerate key —
    * e.g. empty docs — not useful dup candidates), and the drop is
    * COUNT-FIRST ([[BucketGuard]]): decided on the per-key cardinality
    * before collect_list materializes anything.
    *
    * `bands = 0` (the default) auto-tunes the band layout from
    * (numHashes, threshold); a defaulted layout may therefore change
    * when those knobs change — see the compatibility note on
    * `resolveBands`; pass `bands` explicitly to freeze it.
    */
  def minHashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 0,
      threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    val b = resolveBands(bands, numHashes, threshold)
    val rows = numHashes / b
    // Deliberately NOT cached: the only branch that needs the expensive
    // k-hash signature is the banding one (the verify-join sides below
    // select just (id, sh), so Catalyst's column pruning drops the `sig`
    // computation there). The cost of no cache is recomputing the
    // map-side shingling for the two join sides — partition-local work
    // that scales with a columnar re-scan — whereas materializing a
    // >=10x-corpus-size (shingles, signature) cache is exactly what a
    // 100 TB cluster cannot afford, and a persist with no unpersist pins
    // memory/disk for the rest of the session.
    val docs = df.select(
      col(idCol).as("id"),
      GraftFunctions.shingles(df,
        TextFunctions.tokens(col(textCol)), shingleN).as("sh"))
      .withColumn("sig", GraftFunctions.minhashSig(df, col("sh"), numHashes))

    val banded = docs
      .select(col("id"), explode(lshBandKeys(col("sig"), b, rows)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))

    // Count-first skew guard (shared [[BucketGuard]]): oversize buckets
    // are dropped on their per-key COUNT, before collect_list could
    // materialize a degenerate-key bucket in an aggregation buffer.
    val bucketed = BucketGuard.bounded(banded, Seq("band", "key"),
        minSize = 2, maxBucket, dropOversize = true, oversizeMsg = identity)
      .groupBy("band", "key").agg(collect_list("id").as("ids"))

    val candidates = bucketed
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()

    // Verify joins ship HASHED shingles: 8-byte longs instead of ~20-byte
    // strings through both exchanges, and the per-pair Jaccard is a
    // primitive merge walk (SortedIntersectCount) instead of a per-pair
    // string hash set. Same integers (collision odds ~2^-64/pair).
    val shA = docs.select(col("id").as("a"),
      TextFunctions.hashedShingles(col("sh")).as("sh_a"))
    val shB = docs.select(col("id").as("b"),
      TextFunctions.hashedShingles(col("sh")).as("sh_b"))
    candidates
      .join(shA, "a").join(shB, "b")
      .withColumn("jaccard",
        TextFunctions.shingleJaccardHashed(df, col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("a").as("id_a"), col("b").as("id_b"), col("jaccard"))
  }

  /** Cross-corpus near-duplicate pairs by MinHash+LSH — fuzzy
    * decontamination: which evaluation documents have a NEAR-duplicate
    * (not just shared n-grams, cf. `Corpus.contaminationReport`)
    * anywhere in the training corpus. Both sides are shingled + signed
    * map-side with the same hash family, so equal texts get equal
    * signatures; candidates come from ONE equi hash join on (band,
    * key); every candidate is verified with exact shingle Jaccard.
    *
    * Scale shape mirrors [[minHashNearDupPairs]], with the asymmetry
    * exploited: only the huge train side is bucket-aggregated (capped
    * at `maxBucket` ids — the stopword-shingle skew guard), and the
    * bucket join's small probe side is the eval suite, which AQE
    * broadcasts at runtime. Cost tracks colliding pairs, never
    * |train| x |test|. Defaulted `bands = 0` auto-tunes the layout —
    * see the compatibility note on `resolveBands`. */
  def crossCorpusNearDupPairs(
      left: DataFrame,
      leftIdCol: String,
      leftTextCol: String,
      right: DataFrame,
      rightIdCol: String,
      rightTextCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 0,
      threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    val b = resolveBands(bands, numHashes, threshold)
    val rows = numHashes / b
    def signed(df: DataFrame, id: String, text: String): DataFrame =
      df.select(col(id).as("id"),
        GraftFunctions.shingles(df,
          TextFunctions.tokens(col(text)), shingleN).as("sh"))
        .withColumn("sig", GraftFunctions.minhashSig(df, col("sh"), numHashes))
    def banded(d: DataFrame): DataFrame = d
      .select(col("id"), explode(lshBandKeys(col("sig"), b, rows)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val l = signed(left, leftIdCol, leftTextCol)
    val r = signed(right, rightIdCol, rightTextCol)
    // Count-first skew guard: same drop-on-count shape as
    // [[minHashNearDupPairs]], minSize 1 because a singleton train
    // bucket can still pair with probing eval rows.
    val rBuckets = BucketGuard.bounded(banded(r), Seq("band", "key"),
        minSize = 1, maxBucket, dropOversize = true, oversizeMsg = identity)
      .groupBy("band", "key").agg(collect_list("id").as("rids"))
    val candidates = banded(l)
      .join(rBuckets, Seq("band", "key"))
      .select(col("id").as("a"), explode(col("rids")).as("b"))
      .distinct()
    candidates
      .join(l.select(col("id").as("a"),
        TextFunctions.hashedShingles(col("sh")).as("sh_a")), "a")
      .join(r.select(col("id").as("b"),
        TextFunctions.hashedShingles(col("sh")).as("sh_b")), "b")
      .withColumn("jaccard",
        TextFunctions.shingleJaccardHashed(left, col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("a").as("id_a"), col("b").as("id_b"), col("jaccard"))
  }

  /** The signature LEDGER row set for incremental NEAR-dup ingestion
    * ([[nearDedupAgainstLedger]]): one row per accepted document —
    * `(id, sig, hsh)`: the MinHash signature its LSH band keys derive
    * from, and the sorted hashed shingle set exact-Jaccard
    * verification walks. This is the near-dup analog of
    * [[incrementalExactDedup]]'s fingerprint column: dedup state is a
    * compact signature frame, NOT the prior corpus text — ingesting
    * shard N reads the accumulated signatures (8 bytes per distinct
    * shingle + numHashes longs per doc), never re-scans 100 TB of
    * text. Persist the returned ledger per ingestion step (plain
    * parquet, ideally bucketed by band key) — it is the pipeline's
    * accumulated state, exactly the train-once/load-everywhere
    * discipline of [[Corpus.saveMerges]]. */
  def signatureLedger(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      GraftFunctions.shingles(df,
        TextFunctions.tokens(col(textCol)), shingleN).as("sh"))
    sh.select(col("id"),
      GraftFunctions.minhashSig(df, col("sh"), numHashes).as("sig"),
      TextFunctions.hashedShingles(col("sh")).as("hsh"))
  }

  /** An empty [[signatureLedger]] — the seed state of the first
    * ingestion step. */
  def emptySignatureLedger(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("id", LongType),
        StructField("sig", ArrayType(LongType, containsNull = false)),
        StructField("hsh", ArrayType(LongType, containsNull = false)))))
  }

  /** (id, band, key) rows of a signature frame — one per LSH band. */
  private def bandedSigs(d: DataFrame, bands: Int, rows: Int): DataFrame = d
    .select(col("id"), explode(lshBandKeys(col("sig"), bands, rows)).as("bk"))
    .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))

  /** Shard ids with at least one verified near-dup (exact
    * hashed-shingle Jaccard >= `threshold` over LSH-banded candidates)
    * in the ledger — the asymmetric cross shape shared by
    * [[nearDedupAgainstLedger]] and [[dropNearDupsOfLedger]]: the
    * accumulated-corpus-sized LEDGER side is bucket-aggregated (capped
    * at `maxBucket`, minSize 1 — a singleton ledger bucket still
    * catches a probing shard row), the small shard side probes it on
    * (band, key), and verification walks STORED hashed shingles — the
    * ledger never re-tokenizes text it no longer carries. */
  private def ledgerContaminatedIds(
      ref: DataFrame,
      sigs: DataFrame,
      ledger: DataFrame,
      bands: Int,
      rows: Int,
      threshold: Double,
      maxBucket: Int): DataFrame = {
    val ledgerBuckets = BucketGuard.bounded(
        bandedSigs(ledger, bands, rows), Seq("band", "key"),
        minSize = 1, maxBucket, dropOversize = true, oversizeMsg = identity)
      .groupBy("band", "key").agg(collect_list("id").as("lids"))
    bandedSigs(sigs, bands, rows)
      .join(ledgerBuckets, Seq("band", "key"))
      .select(col("id").as("a"), explode(col("lids")).as("b"))
      .distinct()
      .join(sigs.select(col("id").as("a"), col("hsh").as("hsh_a")), "a")
      .join(ledger.select(col("id").as("b"), col("hsh").as("hsh_b")), "b")
      .filter(TextFunctions.shingleJaccardHashed(ref,
        col("hsh_a"), col("hsh_b")) >= threshold)
      .select(col("a").as("id")).distinct()
  }

  /** Per-document ledger DECONTAMINATION: the shard rows (full
    * payload) with NO near-dup anywhere in the ledger — the
    * contamination half of [[nearDedupAgainstLedger]] on its own, with
    * no within-shard dedup and no ledger growth. The retention rule is
    * PER-DOCUMENT INDEPENDENT — each document's verdict depends only
    * on (document, ledger) — so the result is invariant under any
    * partitioning of the shard into sub-shards, which is exactly the
    * property the STREAMING ingestion gate
    * ([[graft.streaming.StreamGate.replayNearDupGate]]) relies on to
    * face the batch oracle: filtering micro-batches one at a time
    * against a static ledger provably equals filtering the whole shard
    * at once. Defaulted `bands = 0` auto-tunes the layout — see the
    * compatibility note on `resolveBands`. */
  def dropNearDupsOfLedger(
      shard: DataFrame,
      idCol: String,
      textCol: String,
      ledger: DataFrame,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 0,
      threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    val b = resolveBands(bands, numHashes, threshold)
    val sigs = signatureLedger(shard, idCol, textCol, shingleN, numHashes)
    val contaminated = ledgerContaminatedIds(shard, sigs, ledger,
      b, numHashes / b, threshold, maxBucket)
    shard.join(contaminated.withColumnRenamed("id", idCol),
      Seq(idCol), "left_anti")
  }

  /** Result of one [[nearDedupAgainstLedger]] ingestion step: the
    * surviving shard rows (full payload) and the UPDATED ledger
    * (input ledger + the survivors' signatures). */
  final case class NearDupIngest(kept: DataFrame, ledger: DataFrame)

  /** Incremental NEAR-dup ingestion — the MinHash analog of
    * [[incrementalExactDedup]], and the production shape of continuous
    * corpus building: ingest a new crawl shard against the accumulated
    * corpus' signature ledger, keep the genuinely new documents,
    * return the grown ledger for the next shard.
    *
    * Retention (oracle-replayable, pinned by q109): a shard document
    * survives iff
    *  1. it is the min-id REPRESENTATIVE of its within-shard near-dup
    *     component (exact shingle Jaccard >= `threshold` edges over
    *     LSH-banded candidates, transitively closed — the
    *     [[minHashNearDupPairs]] -> components -> min-id chain), and
    *  2. it has NO near-dup (exact Jaccard >= `threshold`) anywhere in
    *     the ledger.
    * Retention is per-component by its representative alone: a
    * component whose min-id rep is ledger-contaminated is dropped
    * whole (its members are near-dups of a known document's near-dup),
    * and members are never promoted — the same one-survivor-per-group
    * rule as the rest of the dedup family, kept deterministic so two
    * engines replay it identically.
    *
    * Scale shape: the shard is signed map-side ONCE into the same
    * (sig, hsh) currency the ledger stores; within-shard candidates
    * are bucket-local behind the count-first [[BucketGuard]]; the
    * ledger-contamination check is [[crossCorpusNearDupPairs]]'
    * asymmetric join — the accumulated-corpus-sized LEDGER side is
    * bucket-aggregated (capped at `maxBucket`), the small shard side
    * probes it on (band, key), so the ledger is only ever read in the
    * band buckets the shard actually touches (store it bucketed by
    * band key and the shuffle prunes too); verification walks stored
    * hashed shingles — the ledger never re-tokenizes text it no
    * longer carries. Cost tracks colliding pairs, never
    * |shard| x |ledger|. Defaulted `bands = 0` auto-tunes the layout —
    * see the compatibility note on `resolveBands`. */
  def nearDedupAgainstLedger(
      shard: DataFrame,
      idCol: String,
      textCol: String,
      ledger: DataFrame,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 0,
      threshold: Double = 0.5,
      maxBucket: Int = 1000): NearDupIngest = Blocks.scoped { s =>
    val b = resolveBands(bands, numHashes, threshold)
    val rows = numHashes / b
    // Materialized ONCE per ingested shard: the signature table is
    // consumed by FIVE branches (ledger contamination probe, banding,
    // both within-shard verification sides, the kept-signature ledger
    // append) and each otherwise re-shingles and re-signs the shard.
    // A signature ledger is STORED state by design — the production
    // loop persists it between shards — so materializing the shard's
    // signatures (hashed shingles + minhash, a fraction of the text
    // bytes) is the honest model of that contract, not a cache of the
    // corpus.
    val sigs = s.checkpoint(
      signatureLedger(shard, idCol, textCol, shingleN, numHashes))
    def banded(d: DataFrame): DataFrame = bandedSigs(d, b, rows)
    // 1) ledger contamination
    val contaminated =
      ledgerContaminatedIds(shard, sigs, ledger, b, rows,
        threshold, maxBucket)
    // 2) within-shard components over verified bucket-local pairs
    val shardBuckets = BucketGuard.bounded(banded(sigs), Seq("band", "key"),
        minSize = 2, maxBucket, dropOversize = true, oversizeMsg = identity)
      .groupBy("band", "key").agg(collect_list("id").as("ids"))
    val withinPairs = shardBuckets
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
      .join(sigs.select(col("id").as("a"), col("hsh").as("hsh_a")), "a")
      .join(sigs.select(col("id").as("b"), col("hsh").as("hsh_b")), "b")
      .filter(TextFunctions.shingleJaccardHashed(shard,
        col("hsh_a"), col("hsh_b")) >= threshold)
      .select(col("a"), col("b"))
    val labels = Components.connectedComponents(withinPairs, "a", "b")
    val keptIds = sigs.select(col("id"))
      .join(labels.withColumnRenamed("node", "id"), Seq("id"), "left")
      .filter(coalesce(col("comp"), col("id")) === col("id"))
      .select("id")
      .join(contaminated, Seq("id"), "left_anti")
    val keptSigs = sigs.join(keptIds, Seq("id"), "left_semi")
    NearDupIngest(
      kept = shard.join(keptIds.withColumnRenamed("id", idCol),
        Seq(idCol), "left_semi"),
      ledger = ledger.unionByName(keptSigs))
  }

  /** Text near-duplicate pairs within a doc-id window: exact n-gram
    * shingle Jaccard on (id, id+delta) pairs for delta in 1..window —
    * the text twin of [[Similarity.windowedCosinePairs]], and the
    * deterministic, oracle-checkable complement to the LSH all-pairs
    * detectors ([[minHashNearDupPairs]]/[[simHashNearDupPairsW]]).
    *
    * Plan: shingle + hash each doc ONCE map-side (native
    * [[graft.expressions.ShingleSet]] then 8-byte sorted hashes), then a
    * BUCKETED self-join on `floor(id/window)`: the probe side carries
    * each doc once, the build side twice (its own bucket and the
    * previous one — every (a, a+delta<=window) pair lands in one of the
    * two), so each shingle set crosses the exchange at most 3 times
    * total. The naive explode-to-partner-ids shape ships the array
    * `window+1` times — 26x the shuffle bytes at window=25. The range
    * predicate stays OUT of the join condition (bucket equality is the
    * key; delta in 1..window is a post-join filter), so this plans as a
    * hash join, never a nested loop. */
  def windowedNgramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      window: Int,
      threshold: Double): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val docs = df.select(col(idCol).as("id"),
      TextFunctions.hashedShingles(GraftFunctions.shingles(df,
        TextFunctions.tokens(col(textCol)), shingleN)).as("sh"))
    // `div` = exact integral division: `floor(id / window)` goes through
    // doubles, which mis-buckets ids past 2^53 (silently dropped pairs).
    // Truncating division buckets are still contiguous runs of >= window
    // ids, monotone in id, so every (a, b <= a+window) pair lands in
    // b's bucket or the one before it — the invariant the join needs.
    val bkt = expr(s"CAST(id AS BIGINT) div $window")
    val a = docs.select(col("id").as("id_a"), col("sh").as("sh_a"), bkt.as("bkt"))
    val b = docs.select(col("id").as("id_b"), col("sh").as("sh_b"),
      explode(array(bkt, bkt - 1)).as("bkt"))
    a.join(b, "bkt")
      .filter(col("id_b") > col("id_a") && col("id_b") <= col("id_a") + window)
      .withColumn("jaccard",
        TextFunctions.shingleJaccardHashed(df, col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** width-bit SimHash over the token stream: each token hashed once
    * (`transform` binds the hash), then the native
    * [[graft.expressions.SimHashFromHashes]] expression accumulates
    * the +1/-1 counters and packs the sign pattern in one
    * Janino-compiled loop. Near-dups differ in few bits — compare with
    * [[hammingDistance]].
    *
    * `tokenHash` picks the per-token hash column: default is xxhash64
    * (fastest; engine-internal), while
    * [[TextFunctions.portableTokenHash32]] /
    * [[TextFunctions.portableTokenHash64]] give slower md5-derived
    * hashes reproducible in other engines (used by the DuckDB oracle). */
  def simHash(
      df: DataFrame,
      textCol: String,
      outCol: String,
      width: Int,
      tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    val hashes = transform(toks, t => tokenHash(t))
    df.withColumn(outCol, GraftFunctions.simhash(df, hashes, width))
  }

  /** 32-bit [[simHash]]. For corpora past ~10^5 docs prefer
    * [[simHash64]] — banding needs the wider key space. */
  def simHash32(
      df: DataFrame,
      textCol: String,
      outCol: String,
      tokenHash: Column => Column = xxhash64(_)): DataFrame =
    simHash(df, textCol, outCol, 32, tokenHash)

  /** 64-bit [[simHash]] — the corpus-scale default. */
  def simHash64(
      df: DataFrame,
      textCol: String,
      outCol: String,
      tokenHash: Column => Column = xxhash64(_)): DataFrame =
    simHash(df, textCol, outCol, 64, tokenHash)

  /** Hamming distance between two packed simhash signatures (any
    * width up to 64). */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Hamming distance between two 32-bit simhashes. */
  def hammingDistance32(a: Column, b: Column): Column =
    hammingDistance(a, b)

  private val simHashObsId = new java.util.concurrent.atomic.AtomicInteger()

  /** Banding front half for ANY packed width-bit signature frame
    * `(id, sim)`: band-key explode — one row per (id, band), NOT yet
    * aggregated. A signature is ONE long — unlike the MinHash pipeline
    * (whose verify payload, the shingle sets, is far too big to ship
    * through the band explode), carrying it through the shuffle costs
    * 8 bytes/row and eliminates both join-backs AND the signature
    * recomputations they would trigger. Shared by the SimHash text
    * path and [[Multimodal.dHashNearDupPairs]]' perceptual path. */
  private[operators] def sigBandKeyed(
      sigs: DataFrame,
      width: Int,
      bands: Int): DataFrame = {
    val rows = width / bands
    val mask = if (rows == 64) -1L else (1L << rows) - 1
    sigs.select(struct(col("id"), col("sim")).as("ds"))
      .select(col("ds"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("ds.sim"), b * rows).bitwiseAND(lit(mask)).as("key"))
        }: _*)).as("bk"))
      .select(col("ds"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Hamming-banded near-dup pairs over ANY packed width-bit signature
    * frame `(id, sim)` — the shared LSH back half behind
    * [[simHashNearDupPairsW]] (text) and
    * [[Multimodal.dHashNearDupPairs]] (perceptual/binary). Count-first
    * ([[BucketGuard]] discipline): each banded row learns its bucket's
    * cardinality from a whole-partition count window — spillable,
    * list-free — and `collect_list` only ever aggregates rows of
    * buckets within `maxBucket` (the `when` feeds it NULL for
    * oversize-bucket rows, and collect_list skips NULLs, so a
    * degenerate bucket materializes an EMPTY list, never its members).
    * The window's exchange on (band, key) is the same partitioning the
    * groupBy needs: one shuffle past the signature map, and the
    * oversize decision acts on a long. `observeHook` lets a caller
    * attach inline metrics to the aggregated bucket frame (the simhash
    * path's observe()); the pigeonhole guarantee (full recall when
    * `maxHamming <= bands - 1`) holds for any signature family. */
  private[operators] def hammingBandedPairs(
      sigs: DataFrame,
      width: Int,
      bands: Int,
      maxHamming: Int,
      maxBucket: Int,
      dropOversize: Boolean,
      label: String,
      observeHook: DataFrame => DataFrame = identity): DataFrame = {
    require(width % bands == 0, s"bands ($bands) must divide $width")
    // maxBucket < 2 would make the keep-filter (2 <= size <= maxBucket)
    // a constant contradiction, which Catalyst folds to an empty
    // relation — pruning any observed metrics with it.
    require(maxBucket >= 2, s"maxBucket ($maxBucket) must be >= 2")
    val aggregated = BucketGuard.withBucketCount(
        sigBandKeyed(sigs, width, bands), Seq("band", "key"))
      .groupBy("band", "key")
      .agg(max(col(BucketGuard.CountCol)).cast("int").as("__bn"),
        collect_list(when(col(BucketGuard.CountCol) <= maxBucket, col("ds")))
          .as("ds"))
    val observed = observeHook(aggregated)
    val bucketed =
      (if (dropOversize) observed.filter(col("__bn").between(2, maxBucket))
      else observed.filter(col("__bn") >= 2 &&
        when(col("__bn") <= maxBucket, lit(true)).otherwise(raise_error(concat(
          lit(s"$label bucket exceeded maxBucket=$maxBucket (size "),
          col("__bn").cast("string"),
          lit(") — the pigeonhole recall guarantee would silently degrade. " +
            "Widen the signature, raise bands/maxBucket, or pass " +
            "dropOversize=true to accept recall loss."))).cast("boolean"))))
      .drop("__bn")
    bucketed
      .select(explode(col("ds")).as("x"), col("ds"))
      .select(col("x"), explode(col("ds")).as("y"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        hammingDistance(col("x.sim"), col("y.sim")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a pair may collide in several bands
  }

  private def bucketMetrics(sizeCol: Column, maxBucket: Int): Seq[Column] = Seq(
    sum(when(sizeCol > maxBucket, 1L).otherwise(0L)).as("oversize_buckets"),
    sum(when(sizeCol > maxBucket, sizeCol.cast("long"))
      .otherwise(0L)).as("oversize_rows"),
    max(sizeCol).as("max_bucket_size"),
    count(lit(1)).as("n_buckets"))

  /** Bucket-population audit for [[simHashNearDupPairsW]]: one row of
    * (oversize_buckets, oversize_rows, max_bucket_size, n_buckets) for
    * the given banding parameters. Unlike the inline observe() metrics
    * (which AQE can lose when a downstream stage collapses to empty),
    * this is its own query — run it alongside a `dropOversize = true`
    * dedup to quantify exactly how much recall the drops cost. The
    * audit is a pure COUNT aggregation (map-side combined, never a
    * list): one extra corpus scan plus a band-key-bounded reduce (at
    * most bands x 2^(width/bands) groups), nothing more. */
  def simHashBucketStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      width: Int = 64,
      bands: Int = 4,
      maxBucket: Int = 1000,
      tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    require(width % bands == 0, s"bands ($bands) must divide $width")
    val m = bucketMetrics(col("__bn"), maxBucket)
    sigBandKeyed(simHashSigs(df, idCol, textCol, width, tokenHash), width, bands)
      .groupBy("band", "key")
      .agg(count(lit(1)).cast("int").as("__bn"))
      .agg(m.head, m.tail: _*)
  }

  /** `(id, sim)` signature frame for the banding pipeline. */
  private def simHashSigs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      width: Int,
      tokenHash: Column => Column): DataFrame =
    simHash(df, textCol, "sim", width, tokenHash)
      .select(col(idCol).as("id"), col("sim"))

  /** ALL-PAIRS SimHash near-duplicates: banded simhash buckets (pairs
    * whose signatures agree on at least one contiguous
    * `width/bands`-bit band become candidates) verified with exact
    * Hamming distance. Same shuffle-bounded LSH shape as
    * [[minHashNearDupPairs]] — one hash shuffle on the band key,
    * bucket-local pair expansion with a `maxBucket` skew guard,
    * candidate-only verification — and, when `maxHamming <= bands - 1`,
    * a PIGEONHOLE GUARANTEE of full recall: maxHamming differing bits
    * can dirty at most maxHamming bands, so at least one band is
    * identical and the pair always becomes a candidate. No
    * probabilistic recall argument needed.
    *
    * Width picks the band-key space and therefore the corpus size the
    * guarantee survives: 32-bit / 4 bands = 8-bit keys (256 buckets,
    * ~10^5 docs before buckets hit `maxBucket`); 64-bit / 4 bands =
    * 16-bit keys (65536 buckets, ~10^8 docs). Past that, raise `bands`
    * (with a proportionally higher `maxHamming` bound) or `maxBucket`.
    *
    * Oversize buckets are NEVER silent: by default a bucket exceeding
    * `maxBucket` fails the job with a clear message (a dropped bucket
    * would silently void the recall guarantee this operator
    * advertises) — and the check is COUNT-FIRST ([[BucketGuard]]
    * discipline), evaluated on a window-counted long before any bucket
    * list is materialized, so a degenerate hot key raises the intended
    * error instead of OOMing an aggregation buffer on the way there.
    * Pass `dropOversize = true` to accept recall loss —
    * e.g. a degenerate empty-document key — and the drop is still
    * observable: every run attaches `observe()` metrics
    * (oversize_buckets, oversize_rows, max_bucket_size, n_buckets)
    * visible to any QueryExecutionListener, or synchronously through
    * the `bucketStats` Observation parameter. */
  def simHashNearDupPairsW(
      df: DataFrame,
      idCol: String,
      textCol: String,
      width: Int,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxBucket: Int = 1000,
      tokenHash: Column => Column = xxhash64(_),
      dropOversize: Boolean = false,
      bucketStats: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    require(width % bands == 0, s"bands ($bands) must divide $width")
    // Count-first ([[hammingBandedPairs]]): `__bn` is each bucket's
    // TRUE cardinality from the window count, while `ds` holds members
    // only for in-bound buckets — the raise/drop decision acts on a
    // long; no degenerate bucket is ever materialized, so the loud
    // failure is a guarantee, not a race against the aggregation
    // buffer's OOM.
    //
    // observe(): computed inline over the rows already flowing past —
    // zero extra jobs, surfaced to QueryExecutionListeners (and the
    // caller's Observation if given). AQE caveat: if a downstream stage
    // collapses to an empty relation (e.g. every bucket dropped), AQE's
    // empty-relation propagation can replace the subtree holding the
    // CollectMetrics node and the observed metrics are lost — use
    // [[simHashBucketStats]] for an audit that cannot disappear, or the
    // strict default, which fails the job outright.
    val metrics = bucketMetrics(col("__bn"), maxBucket)
    val observeHook: DataFrame => DataFrame = aggregated => bucketStats match {
      case Some(obs) => aggregated.observe(obs, metrics.head, metrics.tail: _*)
      case None => aggregated.observe(
        s"graft_simhash${width}_buckets_${simHashObsId.getAndIncrement()}",
        metrics.head, metrics.tail: _*)
    }
    hammingBandedPairs(simHashSigs(df, idCol, textCol, width, tokenHash),
      width, bands, maxHamming, maxBucket, dropOversize,
      label = s"simhash$width/$bands-band", observeHook = observeHook)
  }

  /** 32-bit [[simHashNearDupPairsW]] (8-bit band keys at bands=4 —
    * corpora to ~10^5 docs; beyond that use [[simHashNearDupPairs64]]). */
  def simHashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxBucket: Int = 1000,
      tokenHash: Column => Column = xxhash64(_),
      dropOversize: Boolean = false): DataFrame =
    simHashNearDupPairsW(df, idCol, textCol, 32, maxHamming, bands, maxBucket,
      tokenHash, dropOversize)

  /** 64-bit [[simHashNearDupPairsW]] — 16-bit band keys at bands=4
    * keep the pigeonhole guarantee healthy to ~10^8 docs. */
  def simHashNearDupPairs64(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxBucket: Int = 1000,
      tokenHash: Column => Column = xxhash64(_),
      dropOversize: Boolean = false): DataFrame =
    simHashNearDupPairsW(df, idCol, textCol, 64, maxHamming, bands, maxBucket,
      tokenHash, dropOversize)

  /** RETENTION POLICY between clustering and the cleaned corpus: keep
    * exactly one document per near-dup cluster — the HIGHEST-`scoreCol`
    * member, ties broken by id ascending — plus every document with no
    * cluster label (a singleton is its own best member). Min-id
    * retention (the q49 pipeline) is arbitrary; production pipelines
    * keep the best-quality duplicate (longest, highest language/quality
    * score), which changes which bytes survive dedup.
    *
    * `labels` is a (node, comp) frame from [[Components]] — it covers
    * exactly the docs that appear in the pair graph, which is why the
    * doc->label join is LEFT (unlabeled docs coalesce to their own id
    * as a singleton cluster).
    *
    * Scale shape: the label join is big-side `docs` against the sparse
    * pair-graph node set (AQE broadcasts it); the winner per cluster is
    * ONE algebraic `max_by(id, struct(score, -id))` aggregation —
    * map-side combined, so a degenerate million-member cluster ships
    * one candidate per map task, never a cluster-wide row_number sort;
    * the kept set flows back through a semi join on ids (winner set is
    * one row per cluster, AQE-broadcast). Scores must be non-null and
    * numeric; ids integral and unique (they are ids). */
  def keepBestPerCluster(
      docs: DataFrame,
      idCol: String,
      scoreCol: String,
      labels: DataFrame,
      nodeCol: String = "node",
      compCol: String = "comp"): DataFrame = {
    val labeled = docs
      .join(labels.select(col(nodeCol).as(idCol), col(compCol).as("__comp")),
        Seq(idCol), "left")
      .select(col(idCol), col(scoreCol),
        coalesce(col("__comp"), col(idCol)).as("__comp"))
    val winners = labeled
      .groupBy("__comp")
      .agg(max_by(col(idCol),
        struct(col(scoreCol), (lit(-1L) * col(idCol)).as("__negid"))).as(idCol))
      .select(idCol)
    docs.join(winners, Seq(idCol), "left_semi")
  }

  /** Dedup savings report — the "what would dedup buy us" readout that
    * justifies (or kills) running the removal at all: near-dup pair
    * graph → connected components → one row per CLUSTER SIZE with the
    * cluster count, member count, total weight (chars/tokens/bytes),
    * and the weight REMOVABLE under min-id retention (everything but
    * each cluster's representative — the q13/q106 retention rule, so
    * the number is exactly what [[exactDedup]]-style removal would
    * reclaim). Size-profiled rather than pooled because "3 clusters of
    * 40k copies" (template spam — cheap, huge win) and "40k pairs"
    * (crawl noise — expensive, small win) demand different decisions.
    * Docs in no pair appear as size-1 clusters with 0 removable, so
    * the report totals reconcile against the corpus.
    *
    * Scale shape: components over the SPARSE pair graph only
    * ([[Components.connectedComponents]]'s checkpoint discipline); the
    * doc→label join is docs against the pair-node set (AQE broadcasts
    * it); both rollups are algebraic, bounded by clusters then by
    * distinct sizes. */
  def dedupSavingsReport(
      docs: DataFrame,
      idCol: String,
      weightCol: String,
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b"): DataFrame = {
    val labels = Components.connectedComponents(pairs, idA, idB)
    val labeled = docs
      .select(col(idCol), col(weightCol).cast("long").as("__w"))
      .join(labels.select(col("node").as(idCol), col("comp")),
        Seq(idCol), "left")
      .select(col(idCol), col("__w"),
        coalesce(col("comp"), col(idCol)).as("__comp"))
    val perCluster = labeled.groupBy("__comp")
      .agg(count(lit(1)).as("cluster_size"),
        sum(col("__w")).as("__tw"),
        min_by(col("__w"), col(idCol)).as("__repw"))
    perCluster.groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"),
        sum(col("__tw")).as("total_weight"),
        sum(col("__tw") - col("__repw")).as("removable_weight"))
  }

  /** A banding plan chosen by [[lshPlan]]: `bands` × `rows` hash
    * layout, the S-curve's effective threshold `(1/bands)^(1/rows)`,
    * and the minimized error area. */
  final case class LshPlan(
      bands: Int, rows: Int, curveThreshold: Double, errorArea: Double)

  /** LSH banding auto-tuner: pick (bands, rows) with bands·rows =
    * `numHashes` minimizing the total error mass of the banding
    * S-curve `P(s) = 1 - (1 - s^rows)^bands` against the ideal step at
    * `threshold` — `∫₀ᵗ P(s) ds` (false-positive mass, pairs below
    * threshold that still collide) plus `∫ᵗ¹ (1 − P(s)) ds`
    * (false-negative mass, qualifying pairs that never collide). The
    * curve integrates numerically (midpoint rule, 4096 steps —
    * deterministic double arithmetic, no randomness), driver-side pure
    * math: call it ONCE when configuring [[minHashNearDupPairs]] /
    * [[crossCorpusNearDupPairs]] instead of hand-picking bands.
    * Exhaustive over the divisors of numHashes — at most a few dozen
    * candidates for any practical signature width.
    *
    * Note the recall asymmetry knob this deliberately does NOT hide:
    * dedup pipelines that verify candidates exactly (all of this
    * file's pair operators) only pay for false POSITIVES in compute
    * but pay for false NEGATIVES in recall — callers wanting
    * guaranteed-recall-leaning plans should pass a `threshold` a
    * little below their verify threshold, which slides the optimum
    * toward more bands / fewer rows. */
  def lshPlan(numHashes: Int, threshold: Double): LshPlan = {
    require(numHashes >= 1, s"numHashes ($numHashes) must be >= 1")
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold ($threshold) must be in (0, 1)")
    val steps = 4096
    def errorArea(b: Int, r: Int): Double = {
      var fp = 0.0
      var fn = 0.0
      var i = 0
      while (i < steps) {
        val s = (i + 0.5) / steps
        val p = 1.0 - math.pow(1.0 - math.pow(s, r.toDouble), b.toDouble)
        if (s < threshold) fp += p else fn += 1.0 - p
        i += 1
      }
      (fp + fn) / steps
    }
    val candidates = (1 to numHashes)
      .filter(numHashes % _ == 0)
      .map { r =>
        val b = numHashes / r
        LshPlan(b, r, math.pow(1.0 / b, 1.0 / r), errorArea(b, r))
      }
    candidates.minBy(p => (p.errorArea, p.rows))
  }

  /** Banding resolution shared by the MinHash pair/ledger operators:
    * `bands = 0` — their default — auto-tunes via [[lshPlan]], so a
    * caller who states only (numHashes, threshold) gets the
    * minimum-error S-curve layout instead of a folklore constant (at
    * the historical defaults 64/0.5 the optimum IS the old hand-picked
    * 16×4, so defaulted callers see identical plans); an explicit
    * band count is kept verbatim, divisibility checked as before.
    *
    * COMPATIBILITY NOTE for defaulted callers: auto-tuning picks the
    * band layout FROM (numHashes, threshold), so a caller who relied
    * on the old fixed default (16 bands) while passing a NON-default
    * numHashes or threshold gets a different banding — and therefore
    * a different (strictly recall-tuned) candidate-pair set — than
    * before the sentinel became the default. Only the 64/0.5 shipped
    * combination is guaranteed plan-identical across that change;
    * callers who need a frozen layout should pass `bands`
    * explicitly. */
  private def resolveBands(bands: Int, numHashes: Int, threshold: Double): Int = {
    require(bands >= 0, s"bands ($bands) must be >= 0 (0 = auto-tune)")
    val b = if (bands == 0) lshPlan(numHashes, threshold).bands else bands
    require(b >= 1 && numHashes % b == 0,
      s"bands ($b) must divide numHashes ($numHashes)")
    b
  }

  /** Truncation-duplicate detection: every document whose text is a
    * PROPER character-level prefix of some OTHER document's text — the
    * truncated-copy shape (paywall cuts, feed snippets, mid-transfer
    * drops) that exact-hash dedup misses because the bytes differ and
    * MinHash misses when the cut removes enough shingles.
    *
    * The naive predicate is all-pairs (`starts_with(b, a)` over n²).
    * This uses the sorted-adjacency identity instead: among DISTINCT
    * strings in lexicographic order, `t` is a proper prefix of some
    * other string IFF `t` is a prefix of its IMMEDIATE successor —
    * every string extending `t` sorts into the contiguous block that
    * begins right after `t`, so if any extension exists, the very next
    * string is one. One range-partitioned sort replaces the n² scan.
    *
    * The distinct-first step is load-bearing, not a cleanup: with
    * duplicate texts in the frame, a copy of `t` can sit between `t`
    * and its extension in sort order and the adjacency test on raw
    * rows would miss the first copy. Distinct texts are ranked (the
    * [[General.withContiguousRowIds]] two-pass machinery — never a
    * single-partition window), successor pairs meet in a rank→rank+1
    * equi self-join, and flagged texts map back to ALL carrying doc
    * ids through one semi join.
    *
    * Scale shape: distinct is a hash shuffle bounded by distinct
    * texts; the sort is range-partitioned; the successor join is an
    * equi join of two same-size sides; the id recovery is a semi join
    * on text. Nothing is quadratic anywhere.
    *
    * Returns the flagged ids — one column `idCol`, each id whose text
    * is a proper prefix of another document's text. */
  def truncationDupIds(
      df: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val texts = df.select(col(textCol).as("__text")).distinct()
    val ranked = General.withContiguousRowIds(texts, Seq("__text"), "__rank")
    val succ = ranked.select((col("__rank") - 1).as("__rank"),
      col("__text").as("__succ"))
    val flagged = ranked.join(succ, Seq("__rank"))
      .filter(col("__succ").startsWith(col("__text")) &&
        length(col("__succ")) > length(col("__text")))
      .select(col("__text").as(textCol))
    df.join(flagged, Seq(textCol), "left_semi").select(col(idCol))
  }

  /** Dedup-savings THRESHOLD SWEEP — the knob-tuning report run
    * before committing to a similarity cutoff ("0.9 removes 2% of
    * docs, 0.7 removes 9%, 0.5 removes 19% — where does quality
    * plateau?"): one MinHash-LSH detection pass at the LOWEST
    * threshold produces exact-Jaccard-verified pairs, and each
    * candidate threshold filters that pair set (exact — the verified
    * jaccard decides) and re-clusters it, reporting the duplicate
    * mass a min-id retention policy would remove. Detection cost is
    * paid ONCE (the pair frame is checkpointed); each threshold adds
    * only a batch-bounded filter + the iterative CC over its pair
    * subset, which shrinks as the threshold rises.
    *
    * Recall note: thresholds must all be >= the detection threshold
    * (enforced), and detection recall at the lowest threshold is the
    * LSH family's banded guarantee — the q14/q46 oracles pin it
    * exactly at test scale.
    *
    * Output: one row per threshold — (`threshold`, `n_docs_in_pairs`,
    * `n_clusters`, `removable_docs`), threshold ascending. */
  def savingsByThreshold(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int,
      numHashes: Int,
      bands: Int,
      thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "at least one threshold")
    require(thresholds == thresholds.sorted && thresholds.distinct == thresholds,
      s"thresholds must be strictly ascending, got ${thresholds.mkString(", ")}")
    val spark = df.sparkSession
    val rows = Blocks.scoped { s =>
      // ONE detection pass feeds every threshold
      val pairs = s.checkpoint(minHashNearDupPairs(df, idCol, textCol,
        shingleN, numHashes, bands, threshold = thresholds.head))
      thresholds.map { t =>
        val sub = pairs.filter(col("jaccard") >= t)
        val stats = Components.withConnectedComponents(sub, "id_a", "id_b") {
          labels => labels
            .agg(count(lit(1)).as("n"), count_distinct(col("comp")).as("c"))
            .head()
        }
        val (n, c) = (stats.getLong(0), stats.getLong(1))
        (t, n, c, n - c)
      }
    }
    import spark.implicits._
    rows.toDF("threshold", "n_docs_in_pairs", "n_clusters", "removable_docs")
  }
}
