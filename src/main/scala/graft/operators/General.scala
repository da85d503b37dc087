package graft.operators

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructField

/** General dataflow helpers — the Spark-native re-expression of
  * `/root/reference/ons_utils/pyspark/general.py`.
  *
  * Everything here is pure plan construction over codegen'd built-in
  * expressions: no UDFs, no driver-side loops over data, no shuffles
  * beyond what the semantics demand.
  */
object General {

  /** Dict-driven column recode (`general.py:152-162`): a literal
    * `MapType` expression indexed by the column. Unmatched keys yield
    * NULL; Seq values become array columns.
    *
    * Scale note: this is a broadcast-map-side lookup join that never
    * shuffles — the lookup table lives inside the plan as a constant,
    * so it beats an actual join for small vocabularies at any scale.
    */
  def mapCol(colName: String, mapping: Seq[(Any, Any)]): Column = {
    val entries = mapping.flatMap { case (k, v) =>
      Seq(lit(k), v match {
        case s: Seq[_] => array(s.map(x => lit(x)): _*)
        case other     => lit(other)
      })
    }
    map(entries: _*)(col(colName))
  }

  /** Bulk rename via a single projection (`general.py:202-211`);
    * unmapped names pass through. */
  def mapColumnNames(df: DataFrame, mapper: Map[String, String]): DataFrame =
    df.select(df.columns.toSeq.map(c => col(c).as(mapper.getOrElse(c, c))): _*)

  /** Partition-only window over groups, or the whole frame when no
    * groups are given (`general.py:170-183`). The whole-frame variant
    * collapses to ONE partition — the reference documents this hazard;
    * reserve it for already-reduced frames.
    */
  def windowSpec(groups: Seq[String] = Nil): WindowSpec =
    if (groups.nonEmpty) Window.partitionBy(groups.map(col): _*)
    else Window.partitionBy()

  /** Per-group aggregate totals joined back onto every row — the
    * scale-path alternative to `agg(...).over(windowSpec(groups))` when
    * group cardinality is LOW. The window form shuffles EVERY row into
    * #groups partitions and sorts them (three distinct values of a
    * 100 TB column = three straggler partitions); this form computes
    * the totals with map-side partial aggregation and broadcast-joins
    * the tiny result back, so the big side never shuffles at all.
    * Same result, different plan — pick by group cardinality. */
  def withGroupTotals(
      df: DataFrame,
      groups: Seq[String],
      aggs: (String, Column)*): DataFrame = {
    require(aggs.nonEmpty, "at least one (name, aggregate) pair")
    val totals = df.groupBy(groups.map(col): _*)
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, c) => c.as(n) }: _*)
    df.join(broadcast(totals), groups, "left")
  }

  /** Contiguous global row ids in `sortCols` order — the DataFrame
    * `zipWithIndex`. Spark's own options both fail at scale:
    * `monotonically_increasing_id` is non-contiguous, and
    * `row_number().over(Window.orderBy(...))` collapses the whole
    * dataset into ONE sorted partition. This keeps the sort range-
    * partitioned (parallel) and assigns ids in two passes: count rows
    * per partition (tiny collect of one long per partition), then
    * attach `offset(p) + localIndex` partition-wise. The per-partition
    * imperative step is the textbook justified RDD drop-down — no
    * Column expression can see partition-local position.
    *
    * The sorted FRAME is `localCheckpoint()`ed so the sort executes
    * ONCE: the counts pass reads the materialized partitions and the id
    * pass reads them again. Both passes stay in Tungsten rows end to
    * end — pass 1 is a map-side-combined `count per
    * spark_partition_id()` (one row per partition crosses the wire),
    * pass 2 is a codegen'd projection computing
    * `offset(partition) + partition-local index`, where the local index
    * is recovered from `monotonically_increasing_id()`'s documented
    * layout (partition id in the upper bits, a 0-based per-partition
    * counter in the lower 33). The previous implementation dropped to
    * `sorted.rdd` + `Row.fromSeq` + `createDataFrame`, which
    * deserializes every row to external objects and re-converts them
    * back one field at a time (guide §1.4's `.rdd` trap) — per-row
    * boxing on a corpus-length frame, for arithmetic a projection can
    * do. The checkpoint outlives the call (the returned plan reads it)
    * and belongs to the enclosing [[Blocks.scoped]] call, which frees it
    * once nothing that call returns reads it. Outside any scope the
    * caller frees it with [[Blocks.release]] once the result is
    * consumed. The other primitives here own their checkpoints alike.
    *
    * Deterministic when `sortCols` is a total order (unique keys). */
  def withContiguousRowIds(
      df: DataFrame,
      sortCols: Seq[String],
      outCol: String = "row_id"): DataFrame =
    withContiguousRowIdsCounted(df, sortCols, outCol)._1

  /** [[withContiguousRowIds]] plus the TOTAL row count, which the
    * counts pass computes anyway (the partition offsets sum to it) —
    * callers that need `n` (IVF seeding) read it here for free instead
    * of paying a separate count job or an observed-metric round trip. */
  private[graft] def withContiguousRowIdsCounted(
      df: DataFrame,
      sortCols: Seq[String],
      outCol: String = "row_id"): (DataFrame, Long) = {
    require(sortCols.nonEmpty, "a sort order is required for deterministic ids")
    // LAZY checkpoint: the counts pass below is the first action, so
    // the sort materializes INSIDE it — one job where eager paid a
    // materialization job plus a separate counts job (two full
    // scheduler round-trips per call, ~95 query paths deep).
    val sorted = Blocks.lazyCheckpoint(df.sort(sortCols.map(col): _*))
    // mid = (pid << 33) + 0-based record number within the partition
    // (monotonically_increasing_id's documented-as-implementation-note
    // layout). The per-partition max(mid) rides the counts pass as one
    // extra agg column and is asserted against count-1, so a silent
    // layout change in a future Spark fails LOUDLY here instead of
    // mis-numbering every downstream consumer.
    val counts = sorted
      .select(spark_partition_id().as("__cri_pid"),
        monotonically_increasing_id().as("__cri_mid"))
      .groupBy("__cri_pid")
      .agg(count(lit(1)).as("__cri_n"), max(col("__cri_mid")).as("__cri_maxmid"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    counts.foreach { case (p, n, maxMid) =>
      require(maxMid - (p.toLong << 33) == n - 1,
        s"monotonically_increasing_id layout drift: partition $p has " +
          s"$n rows but max id $maxMid — contiguous row ids would be wrong")
    }
    var acc = 0L
    // Dense offset ARRAY indexed by partition id (empty partitions tag
    // no rows, their slots are never read): element_at on an array
    // literal is an O(1) index, where the previous map literal compiled
    // to a linear scan of all P entries per row — harmless at 32
    // partitions, O(N·P) at production partition counts.
    val offArr = new Array[Long](counts.lastOption.map(_._1 + 1).getOrElse(0))
    counts.foreach { case (p, n, _) =>
      offArr(p) = acc; acc = Math.addExact(acc, n)
    }
    val pid = spark_partition_id()
    val localIdx =
      monotonically_increasing_id() - shiftleft(pid.cast("long"), 33)
    val offset =
      if (offArr.isEmpty) lit(0L)
      else element_at(typedLit(offArr.toSeq), pid + lit(1))
    (sorted.select(
      (offset + localIdx).as(outCol) +: df.columns.toSeq.map(col): _*), acc)
  }

  /** PER-GROUP contiguous 0-based row ids in `orderCols` order — the
    * giant-group replacement for `row_number().over(Window
    * .partitionBy(groups).orderBy(...))`: a group-partitioned window
    * sorts each group inside ONE task, so a skewed group (one language
    * holding 80% of a corpus) single-threads the whole rank. This
    * instead runs ONE global range-partitioned sort over
    * (groups ++ orderCols) through [[withContiguousRowIds]] — every
    * group's rows land globally contiguous — and recovers each row's
    * within-group rank as `global_id − min(global_id) of its group`:
    * a group-bounded min aggregation + one null-safe group join, never
    * a per-group sort. Parallelism follows data size, not group
    * cardinality or skew.
    *
    * Deterministic when (groups ++ orderCols) is a total order — the
    * [[withContiguousRowIds]] condition. The returned frame reads the
    * sort checkpoint, owned as in [[withContiguousRowIds]]. */
  def withContiguousRowIdsPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[String],
      outCol: String = "group_row_id"): DataFrame = {
    require(groupCols.nonEmpty, "group columns are required")
    require(orderCols.nonEmpty, "a within-group sort order is required")
    TempCols.reserve(df, "withContiguousRowIdsPerGroup", "__gid", "__gmin")
    val ids = withContiguousRowIds(df, groupCols ++ orderCols, "__gid")
    val mins = ids.groupBy(groupCols.map(col): _*)
      .agg(min(col("__gid")).as("__gmin"))
    val l = ids.alias("__gl")
    val r = mins.alias("__gr")
    val cond = groupCols.map(c => col(s"__gl.$c") <=> col(s"__gr.$c"))
      .reduce(_ && _)
    l.join(r, cond)
      .select(df.columns.toSeq.map(c => col(s"__gl.$c")) :+
        (col("__gl.__gid") - col("__gr.__gmin")).as(outCol): _*)
  }

  /** Distributed prefix sum: each row gets the running total of
    * `valueCol` over all rows STRICTLY BEFORE it in `sortCols` order
    * (exclusive prefix — the row's own start offset). The scale story
    * mirrors [[withContiguousRowIds]]: `sum().over(Window.orderBy(...))`
    * funnels the whole dataset through ONE sorted partition, while this
    * keeps the sort range-partitioned and runs two passes over the
    * `localCheckpoint()`ed sorted RDD — per-partition value totals (a
    * tiny collect of one long per partition) become partition offsets,
    * then each partition accumulates locally from its offset. Values
    * are summed as longs — exact, order-independent, overflow-checked
    * by ANSI mode rather than silently wrapped.
    *
    * Deterministic when `sortCols` is a total order (unique keys). */
  def withRunningTotal(
      df: DataFrame,
      sortCols: Seq[String],
      valueCol: String,
      outCol: String = "running_total"): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(sortCols.nonEmpty, "a sort order is required for a deterministic prefix")
    val vIdx = df.schema.fieldIndex(valueCol)
    val sorted = df.sort(sortCols.map(col): _*)
      .withColumn(valueCol, col(valueCol).cast(LongType))
    val schema = StructType(
      sorted.schema.fields :+ StructField(outCol, LongType, nullable = false))
    val rdd = Blocks.lazyCheckpoint(sorted.rdd)
    val partTotals = rdd
      .mapPartitionsWithIndex((i, it) =>
        Iterator((i, it.foldLeft(0L)((acc, r) => acc + r.getLong(vIdx)))))
      .collect().sortBy(_._1).map(_._2)
    val offsets = partTotals.scanLeft(0L)(_ + _)
    val withTotals = rdd.mapPartitionsWithIndex { (i, it) =>
      var acc = offsets(i)
      it.map { r =>
        val out = Row.fromSeq(r.toSeq :+ acc)
        acc += r.getLong(vIdx)
        out
      }
    }
    df.sparkSession.createDataFrame(withTotals, schema)
  }

  /** [[withRunningTotal]] for SEVERAL value columns in ONE
    * range-partitioned pass: one sort, one per-partition totals
    * collect (a tiny vector of longs per partition), one accumulate —
    * instead of k sequential two-pass prefixes when an operator needs
    * k aligned prefixes over the same order (the k-sample log-rank's
    * per-group risk sets). Semantics per column are
    * [[withRunningTotal]]'s verbatim (exclusive prefix, exact long
    * sums, ANSI overflow). */
  def withRunningTotals(
      df: DataFrame,
      sortCols: Seq[String],
      valueCols: Seq[String],
      outCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(sortCols.nonEmpty, "a sort order is required for a deterministic prefix")
    require(valueCols.nonEmpty && valueCols.size == outCols.size,
      s"withRunningTotals: ${valueCols.size} value columns vs " +
        s"${outCols.size} out columns")
    val casted = valueCols.foldLeft(df.sort(sortCols.map(col): _*)) {
      (d, c) => d.withColumn(c, col(c).cast(LongType))
    }
    val vIdxs = valueCols.map(casted.schema.fieldIndex).toArray
    val m = vIdxs.length
    val schema = StructType(casted.schema.fields ++
      outCols.map(c => StructField(c, LongType, nullable = false)))
    val rdd = Blocks.lazyCheckpoint(casted.rdd)
    val partTotals = rdd
      .mapPartitionsWithIndex { (i, it) =>
        val acc = new Array[Long](m)
        it.foreach { r =>
          var j = 0
          while (j < m) { acc(j) = Math.addExact(acc(j), r.getLong(vIdxs(j))); j += 1 }
        }
        Iterator((i, acc))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = partTotals.scanLeft(new Array[Long](m)) { (a, b) =>
      Array.tabulate(m)(j => Math.addExact(a(j), b(j)))
    }
    val withTotals = rdd.mapPartitionsWithIndex { (i, it) =>
      val acc = offsets(i).clone()
      it.map { r =>
        val out = Row.fromSeq(r.toSeq ++ acc.toSeq)
        var j = 0
        while (j < m) { acc(j) = Math.addExact(acc(j), r.getLong(vIdxs(j))); j += 1 }
        out
      }
    }
    df.sparkSession.createDataFrame(withTotals, schema)
  }

  /** Distributed lag-1: each row gets the value of `valueCol` from the
    * row IMMEDIATELY BEFORE it in `sortCols` order (NULL for the first
    * row) — [[withRunningTotal]]'s lag twin, and the same scale story:
    * `lag().over(Window.orderBy(...))` funnels the whole dataset
    * through ONE sorted partition, while this keeps the sort
    * range-partitioned and runs two passes over the
    * `localCheckpoint()`ed sorted RDD — each partition's LAST value (a
    * tiny collect of one value per partition, carried across empty
    * partitions) seeds the next partition's first row, then each
    * partition lags locally. The value keeps its input type; a NULL
    * stored value propagates as a legitimate prev (indistinguishable
    * from the first-row NULL — pre-filter if that matters).
    *
    * Deterministic when `sortCols` is a total order (unique keys). */
  def withPrevValue(
      df: DataFrame,
      sortCols: Seq[String],
      valueCol: String,
      outCol: String = "prev_value"): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    require(sortCols.nonEmpty, "a sort order is required for a deterministic lag")
    val vIdx = df.schema.fieldIndex(valueCol)
    val sorted = df.sort(sortCols.map(col): _*)
    val schema = StructType(sorted.schema.fields :+
      StructField(outCol, df.schema(valueCol).dataType, nullable = true))
    val rdd = Blocks.lazyCheckpoint(sorted.rdd)
    val lasts = rdd
      .mapPartitionsWithIndex { (i, it) =>
        var last: Any = null
        var seen = false
        while (it.hasNext) { last = it.next().get(vIdx); seen = true }
        Iterator((i, if (seen) Some(last) else None))
      }
      .collect().sortBy(_._1).map(_._2)
    // partition i starts from the last value of the nearest non-empty
    // partition before it (scanLeft carries across empty partitions)
    val seeds = lasts.scanLeft(Option.empty[Any])((acc, cur) => cur.orElse(acc))
    val lagged = rdd.mapPartitionsWithIndex { (i, it) =>
      var prev: Any = seeds(i).orNull
      it.map { r =>
        val out = Row.fromSeq(r.toSeq :+ prev)
        prev = r.get(vIdx)
        out
      }
    }
    df.sparkSession.createDataFrame(lagged, schema)
  }

  /** Deterministic hash sampling: keep rows whose key hashes into
    * `residue` mod `m` — reproducible across runs, executors, engines
    * (pass a portable hash like
    * [[graft.functions.TextFunctions.portableTokenHash32]] for
    * cross-engine identity), and stable under repartitioning, unlike
    * `df.sample` whose RNG stream depends on partition layout. A pure
    * map-side filter: no shuffle, candidates for scan pushdown. The
    * residue classes partition the corpus, so m disjoint samples (e.g.
    * train/heldout splits) come from the same call with different
    * residues. */
  def hashSample(
      df: DataFrame,
      keyCol: String,
      m: Int,
      residue: Int = 0,
      hash: Column => Column = org.apache.spark.sql.functions.xxhash64(_)): DataFrame = {
    require(m > 0 && residue >= 0 && residue < m)
    df.filter(pmod(hash(col(keyCol)), lit(m.toLong)) === residue)
  }

  /** Stratified deterministic sampling: per-stratum keep rates, the
    * training-data mixture-control primitive (upsample the scarce
    * language, downsample the dominant crawl). A row survives when its
    * key's hash residue mod `m` falls below `round(rate(stratum) * m)`,
    * so realized rates are exact multiples of 1/m and the SAME row set
    * survives on any engine, any partitioning, any run — rerunning the
    * pipeline after adding data only ADDS rows to the sample, it never
    * swaps previously-selected ones (the property `df.sample` lacks, and
    * the one that makes ablation corpora reproducible). Map-side filter,
    * no shuffle; strata absent from `rates` default to `defaultRate`.
    * Rate lookup is a literal CASE chain — strata counts are small
    * (languages, sources), so no join materializes. */
  def stratifiedHashSample(
      df: DataFrame,
      strataCol: String,
      keyCol: String,
      rates: Map[String, Double],
      m: Int = 1024,
      defaultRate: Double = 0.0,
      hash: Column => Column = org.apache.spark.sql.functions.xxhash64(_)): DataFrame = {
    require(m > 0, "m must be positive")
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 1),
      "rates must lie in [0, 1]")
    // Compare the stratum CAST TO STRING against the map keys: the raw
    // column would route through Spark's implicit coercion, whose
    // rendering of floats/decimals/binary need not round-trip the
    // string keys a caller (or capPerStratumSample's count pass)
    // derived via cast('string') — a mismatch would silently hand the
    // stratum `defaultRate` instead of its intended rate.
    val strata = col(strataCol).cast("string")
    val threshold = rates.toSeq.sortBy(_._1).foldRight(
        lit(math.round(defaultRate * m).toInt)) { case ((stratum, rate), e) =>
      when(strata === stratum, lit(math.round(rate * m).toInt)).otherwise(e)
    }
    df.filter(pmod(hash(col(keyCol)), lit(m.toLong)) < threshold)
  }

  /** Domain-mixture sampling under a size budget: downsample each group
    * toward the target mixture `weights` so the kept corpus totals
    * (in `sizeCol` units — tokens, chars, bytes) approximately
    * `budget`, with group g contributing ~`budget * weights(g)`. THE
    * pretraining-mixture primitive ("30% web, 30% code, 40% books, one
    * trillion tokens total"): rates are DERIVED from the corpus totals
    * (rate_g = min(1, budget*w_g / total_g)), so the call site states
    * the mixture, not per-group knobs that drift as the corpus grows.
    * Groups without a weight are dropped (weight 0 in effect), and so
    * are rows with a NULL group — the mixture join's null-rejecting
    * equality can match no weight; fill or filter null groups upstream,
    * explicitly. A group smaller than its allocation keeps everything —
    * budget-constrained sampling can only downsample, never invent
    * data. The input may not already contain columns named `__g` or
    * `__thresh` (the join's temp columns; asserted).
    *
    * Deterministic and rerun-stable like the rest of the sampling
    * family: a row survives iff `hash(key) < floor(rate_g * 2^32)`, a
    * pure function of the key and the derived rate. The default hash
    * is the portable md5-based 32-bit hash, so survivors are
    * reproducible across engines (and oracle-checkable); the rate
    * arithmetic is plain IEEE double ops any engine reproduces bit-for-
    * bit from the same totals.
    *
    * Scale shape: one map-side-combined aggregation bounded by the
    * group count, joined to the literal weights and broadcast back onto
    * the corpus — the filter itself is map-side, no corpus shuffle. The
    * expected kept size per group is rate*total = budget*w_g (exact in
    * expectation; use `exactCapPerStratum` when hard quotas matter more
    * than size proportionality). */
  def mixtureSample(
      df: DataFrame,
      groupCol: String,
      keyCol: String,
      sizeCol: String,
      weights: Map[String, Double],
      budget: Long,
      hash: Column => Column = c =>
        graft.functions.TextFunctions.portableTokenHash32(c.cast("string"))): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(weights.nonEmpty, "at least one group weight")
    require(weights.values.forall(w => w >= 0 && !w.isNaN && !w.isInfinite),
      "weights must be finite and non-negative")
    TempCols.reserve(df, "mixtureSample", "__g", "__thresh")
    val s = df.sparkSession
    import org.apache.spark.sql.types.{DoubleType, StringType, StructType}
    val wDf = s.createDataFrame(
      java.util.Arrays.asList(
        weights.toSeq.sortBy(_._1).map { case (g, w) => Row(g, w) }: _*),
      StructType(Seq(StructField("__g", StringType, nullable = false),
        StructField("__w", DoubleType, nullable = false))))
    val thresholds = df
      .groupBy(col(groupCol).cast("string").as("__g"))
      .agg(sum(col(sizeCol)).cast("double").as("__tot"))
      .join(wDf, "__g")
      .select(col("__g"),
        floor(least(lit(1.0), lit(budget.toDouble) * col("__w") / col("__tot"))
          * lit(4294967296.0)).cast("long").as("__thresh"))
    df.join(broadcast(thresholds), df.col(groupCol).cast("string") === col("__g"))
      .filter(hash(col(keyCol)) < col("__thresh"))
      .drop("__g", "__thresh")
  }

  /** Per-stratum frequency-cap sampling: downsample every stratum to an
    * EXPECTED `cap` rows (rate = min(1, cap / count)), leaving smaller
    * strata untouched — the C4/RefinedWeb-style "no single domain may
    * dominate the corpus" mixture control, with the rates COMPUTED from
    * the data instead of hand-specified as in [[stratifiedHashSample]]
    * (which this delegates to, inheriting its determinism: membership
    * is a pure function of the key's hash, so reruns and engine swaps
    * reproduce the exact row set, and re-capping after new data arrives
    * only moves rows whose stratum's rate changed).
    *
    * Scale shape: the stratum count aggregation is map-side combined
    * and its result is bounded by the number of strata (domains,
    * languages, sources — thousands, not rows), which is the only thing
    * collected to the driver; the sample itself is a map-side filter,
    * no shuffle. Note the count pass runs eagerly at call time (one
    * column-pruned job) — the price of data-dependent rates.
    *
    * Strata values are read as strings (non-string strata columns are
    * counted after a string cast, matching the Map[String, Double]
    * rate contract of [[stratifiedHashSample]]). A NULL stratum fails
    * loudly: the rate CASE chain's null-unsafe equality would silently
    * drop every null-stratum row (defaultRate 0) instead of capping
    * it — fill or filter nulls upstream, explicitly. */
  def capPerStratumSample(
      df: DataFrame,
      strataCol: String,
      keyCol: String,
      cap: Long,
      m: Int = 1024,
      hash: Column => Column = org.apache.spark.sql.functions.xxhash64(_)): DataFrame = {
    require(cap >= 0, "cap must be non-negative")
    val counts = df.groupBy(col(strataCol).cast("string").as("__s"))
      .agg(count(lit(1)).as("__n"))
      .collect()
    require(!counts.exists(_.isNullAt(0)),
      s"capPerStratumSample: stratum column '$strataCol' contains NULL; " +
        "null-stratum rows cannot be capped (they would be silently " +
        "dropped) — fill or filter them before sampling")
    val rates = counts
      .map(r => r.getString(0) -> math.min(1.0, cap.toDouble / r.getLong(1)))
      .toMap
    stratifiedHashSample(df, strataCol, keyCol, rates, m, defaultRate = 0.0, hash)
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis-
    * Spirakis A-Res): keep the k rows with the largest `ln(u)/w`,
    * where `u ∈ (0,1]` is a uniform derived from the portable hash of
    * the key and `w` the row's weight — selection probability
    * proportional to weight, no replacement, and (like the rest of the
    * sampling family) a pure function of the keys and weights present:
    * reruns and engine swaps reproduce the exact row set. THE
    * quality-weighted subset primitive ("sample 1M docs, long/high-
    * quality documents proportionally more often").
    *
    * Rows with a NULL or non-positive weight are excluded (they have
    * no defined selection probability; ln(u)/w is meaningless at
    * w <= 0), and so are rows with a NULL id: hash(NULL) is a NULL
    * A-Res key, which sorts last under `desc` yet would still backfill
    * an undersubscribed top-k when fewer than k valid rows exist — a
    * row with no defined selection key must never enter the sample.
    * Fill or filter upstream if such rows should compete.
    *
    * Scale shape: the key is one map-only expression; selection is
    * `orderBy(key).limit(k)` = TakeOrderedAndProject, a bounded heap
    * of k rows per partition and one O(k x partitions) merge at the
    * driver side of the exchange — the corpus is never fully sorted.
    * Hash ties are broken by id ascending for absolute determinism. */
  def weightedSample(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      k: Int,
      hash: Column => Column = c =>
        graft.functions.TextFunctions.portableTokenHash32(c.cast("string"))): DataFrame = {
    require(k > 0, s"k ($k) must be positive")
    TempCols.reserve(df, "weightedSample", "__u", "__key")
    df.filter(col(idCol).isNotNull && col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__u",
        (hash(col(idCol)) + 1).cast("double") / lit(4294967296.0))
      .withColumn("__key", log(col("__u")) / col(weightCol))
      .orderBy(col("__key").desc, col(idCol))
      .limit(k)
      .drop("__u", "__key")
  }

  /** EXACT per-stratum cap: keep exactly min(cap, stratum size) rows
    * per stratum — the rows whose key hashes LARGEST under a portable
    * hash (hash ties, possible with a 32-bit hash, break by id asc).
    * [[capPerStratumSample]] hits the cap only in expectation; this
    * variant is for quota semantics ("exactly 10k docs per language in
    * the eval set"), still deterministic and rerun-stable: the selected
    * set is a pure function of the keys present, so adding new data
    * only displaces rows at the hash boundary.
    *
    * Scale shape: selection rides the bounded-heap
    * [[graft.functions.Aggregators.TopK]] — partial aggregation caps
    * every map task's slice at `cap` candidates before the shuffle, so
    * a stratum with a billion rows costs O(cap x partitions) exchange
    * rows, never a stratum-wide sort (the row_number window
    * formulation shuffles and sorts EVERY row of the biggest stratum
    * into one task). The winner set (<= cap x strata rows) flows into
    * a left-semi join that AQE broadcasts at runtime.
    *
    * Key contract (enforced): `keyCol` must be an integral id column
    * (ids ride the bounded heap as longs) or a string id column (URLs,
    * UUIDs — carried verbatim through the string-keyed heap twin); any
    * other type fails loudly, because a silent cast to NULL would
    * select NOTHING. Keys must also be unique per stratum (they are
    * ids): the semi join keeps every row sharing a selected key, so
    * duplicates would overshoot the cap. Hash ties (possible with the
    * 32-bit portable hash) break by id ascending — numerically for
    * integral keys, lexicographically for string keys. */
  def exactCapPerStratum(
      df: DataFrame,
      strataCol: String,
      keyCol: String,
      cap: Int,
      hash: Column => Column = c =>
        graft.functions.TextFunctions.portableTokenHash32(c.cast("string"))): DataFrame = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType, StringType}
    require(cap > 0, "cap must be positive")
    val score = hash(col(keyCol)).cast("double").as("__h")
    val selected = df.schema(keyCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        val topk = udaf(new graft.functions.Aggregators.TopK(cap),
          Encoders.product[graft.functions.Aggregators.Scored])
        df.select(col(strataCol).as("__s"), score, col(keyCol).cast("long").as("__k"))
          .groupBy("__s")
          .agg(topk(col("__h"), col("__k")).as("__top"))
          .select(col("__s"), col("__top.id").as("__ks"))
      case StringType =>
        val topk = udaf(new graft.functions.Aggregators.TopKByKey(cap),
          Encoders.product[graft.functions.Aggregators.ScoredKey])
        df.select(col(strataCol).as("__s"), score, col(keyCol).as("__k"))
          .groupBy("__s")
          .agg(topk(col("__h"), col("__k")).as("__top"))
          .select(col("__s"), col("__top.id").as("__ks"))
      case other =>
        throw new IllegalArgumentException(
          s"exactCapPerStratum requires an integral or string key column, " +
            s"got $other for '$keyCol' (any other type would cast to NULL " +
            "and silently select nothing)")
    }
    val winners = selected.select(col("__s"), explode(col("__ks")).as("__k"))
    df.join(winners,
      df(strataCol) === winners("__s") &&
        df(keyCol) === winners("__k"),
      "left_semi")
  }

  /** Collect to the driver (`general.py:186-199`): single column -> flat
    * values; multiple columns -> row seqs. Driver-side by design — only
    * for small results. */
  def toList(df: DataFrame): Seq[Any] =
    if (df.columns.length == 1) df.collect().toSeq.map(_.get(0))
    else df.collect().toSeq.map(_.toSeq)

  /** Filter to the group of the first physical row (`general.py:224-228`).
    * Uses null-safe Column equality instead of the reference's
    * injection-prone SQL-string interpolation. */
  def firstGroup(df: DataFrame, groups: Seq[String]): DataFrame = {
    val first: Row = df.select(groups.map(col): _*).head()
    val pred = groups.zipWithIndex
      .map { case (g, i) => col(g) <=> lit(first.get(i)) }
      .reduce(_ && _)
    df.filter(pred)
  }

  /** (name, dtype) fields, optionally for a selection (`general.py:128-149`,
    * unified to Seq[StructField] — the reference's dict/list split is a
    * Python-ism). */
  def fields(df: DataFrame, selection: Seq[String] = Nil): Seq[StructField] =
    if (selection.isEmpty) df.schema.fields.toSeq
    else selection.map(c => df.schema.fields.find(_.name == c).getOrElse(
      StructField(c, org.apache.spark.sql.types.NullType)))

  /** DDL rendering (`general.py:109-125`) — first-class in Spark. */
  def ddlSchema(df: DataFrame): String = df.schema.toDDL

  /** Column names of a catalog table (`general.py:214-216`). */
  def tableColumns(spark: SparkSession, table: String): Seq[String] =
    spark.catalog.listColumns(table).collect().toSeq.map(_.name)

  /** Catalog existence via the public API — the reference needed a py4j
    * backdoor for this on Spark 2.4 (`validation.py:318-320`). */
  def tableExists(spark: SparkSession, db: String, table: String): Boolean =
    spark.catalog.tableExists(s"$db.$table")

  /** Single-name variant: resolves temp views and current-database
    * tables alike. */
  def tableExists(spark: SparkSession, table: String): Boolean =
    spark.catalog.tableExists(table)

  private val fsExistsCache = TrieMap.empty[String, Boolean]

  /** Memoized filesystem existence check (`validation.py:303-315`,
    * `lru_cache` -> TrieMap). Works for any Hadoop-supported scheme. */
  def fileExists(spark: SparkSession, path: String): Boolean =
    fsExistsCache.getOrElseUpdate(path, {
      val p = new Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    })

  /** `convert_to_spark_col` (`general.py:29-39`): runtime lifting for
    * dynamic call sites — string becomes `col(...)`, Column passes
    * through, anything else throws like the reference's ValueError
    * (incl. null/boolean/double, `tests/pyspark/test_general.py:19-35`).
    * Static call sites should prefer the compile-time [[ColumnLike]]
    * magnet, which makes the invalid cases unrepresentable. */
  def convertToSparkCol(x: Any): Column = x match {
    case s: String => col(s)
    case c: Column => c
    case other => throw new IllegalArgumentException(
      s"cannot convert $other to a Column: expected a column name or Column")
  }

  /** Compile-time string-or-Column magnet — the idiomatic replacement
    * for the reference's argument-rewriting decorator machinery
    * (`to_spark_col` + `args_kwargs_transformer_factory`,
    * `ons_utils/decorators.py:15-16`, `ons_utils/factories.py:16-106`).
    * A Python decorator rewrites arguments at call time; in Scala the
    * implicit conversions fire at compile time, so a function declared
    * over `ColumnLike` accepts `"name"` and `col("name")` alike and
    * rejects everything else before it can run. */
  sealed trait ColumnLike { def toColumn: Column }
  object ColumnLike {
    implicit def fromName(s: String): ColumnLike =
      new ColumnLike { def toColumn: Column = col(s) }
    implicit def fromColumn(c: Column): ColumnLike =
      new ColumnLike { def toColumn: Column = c }
  }

  /** Fluent extension surface replacing the reference's monkeypatched
    * `DataFrame.transform` and friends (`general.py:219-221`), with the
    * [[ColumnLike]] argument-lifting the decorator factory provided in
    * Python. */
  implicit class DataFrameOps(private val df: DataFrame) extends AnyVal {
    def renamed(mapper: Map[String, String]): DataFrame = mapColumnNames(df, mapper)
    def firstGroupOf(groups: String*): DataFrame = firstGroup(df, groups)
    def toLocalList: Seq[Any] = toList(df)
    def concatWith(others: DataFrame*): DataFrame = Concat.concat(df +: others)
    /** select with string-or-Column args lifted at compile time. */
    def selecting(cols: ColumnLike*): DataFrame = df.select(cols.map(_.toColumn): _*)
    /** filter accepting either a predicate Column or a column name
      * (lifted; a bare name filters on its truthiness, as Spark does).
      * Named `filtering` — NOT `where`/`filter` — because Dataset's own
      * overloads always win resolution over an implicit-class
      * extension, which would make a `where(ColumnLike)` unreachable
      * dead code. */
    def filtering(pred: ColumnLike): DataFrame = df.filter(pred.toColumn)
  }
}
