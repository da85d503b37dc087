package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ArrayFunctions
import graft.operators.General
import graft.testkit.SparkTestKit._

/** Ports `/root/reference/tests/pyspark/test_general.py` golden tables. */
class GeneralSpec extends AnyFunSuite {

  test("window spec: grouped analytic sum (test_general.py:41-68)") {
    val df = table("group string, val bigint",
      Seq(row("A", 5L), row("A", 2L), row("B", 1L), row("B", 9L), row("B", 6L)))
    val out = df.withColumn("sum", sum("val").over(General.windowSpec(Seq("group"))))
    val expected = table("group string, val bigint, sum bigint",
      Seq(row("A", 5L, 7L), row("A", 2L, 7L),
        row("B", 1L, 16L), row("B", 9L, 16L), row("B", 6L, 16L)))
    assertDfEquality(out, expected, ignoreRowOrder = true)
  }

  test("window spec: whole-frame sum (test_general.py:70-86)") {
    val df = table("group string, val bigint",
      Seq(row("A", 5L), row("A", 2L), row("B", 1L), row("B", 9L), row("B", 6L)))
    val out = df.withColumn("sum", sum("val").over(General.windowSpec()))
    assert(out.select("sum").distinct().collect().map(_.getLong(0)).toSeq == Seq(23L))
  }

  test("map_col: unmatched keys yield null (test_general.py:92-106)") {
    val df = table("position bigint", Seq(row(1L), row(2L), row(3L), row(4L)))
    val out = df.withColumn("ordinal",
      General.mapCol("position", Seq(1L -> "first", 2L -> "second", 3L -> "third")))
    val expected = table("position bigint, ordinal string",
      Seq(row(1L, "first"), row(2L, "second"), row(3L, "third"), row(4L, null)))
    assertDfEquality(out, expected, ignoreRowOrder = true)
  }

  test("map_col: seq values become array columns (test_general.py:108-122)") {
    val df = table("animal string", Seq(row("cat"), row("dog")))
    val out = df.withColumn("sounds",
      General.mapCol("animal", Seq("cat" -> Seq("meow", "purr"), "dog" -> Seq("woof"))))
    assert(out.schema("sounds").dataType == ArrayType(StringType, containsNull = false))
    assert(out.orderBy("animal").collect().map(_.getSeq[String](1).toList).toSeq ==
      Seq(List("meow", "purr"), List("woof")))
  }

  test("map_column_names renames mapped, passes through rest (test_general.py:125-142)") {
    val df = table("col_A string, col_Y string, col_Z string", Seq(row("a", "y", "z")))
    val out = General.mapColumnNames(df, Map("col_Y" -> "col_C", "col_Z" -> "col_E"))
    assert(out.columns.toSeq == Seq("col_A", "col_C", "col_E"))
  }

  test("to_list: single column flat, multi column nested (general.py:186-199)") {
    val df = table("a string, b bigint", Seq(row("x", 1L), row("y", 2L)))
    assert(General.toList(df.select("a").orderBy("a")) == Seq("x", "y"))
    assert(General.toList(df.orderBy("a")) == Seq(Seq("x", 1L), Seq("y", 2L)))
  }

  test("first group filters to first row's key (general.py:224-228)") {
    val df = table("g string, v bigint",
      Seq(row("a", 1L), row("a", 2L), row("b", 3L))).orderBy("g")
    val out = General.firstGroup(df, Seq("g"))
    assert(out.collect().map(_.getString(0)).toSet == Set("a"))
    assert(out.count() == 2)
  }

  test("first group handles null keys via null-safe equality") {
    val df = table("g string, v bigint", Seq(row(null, 1L), row(null, 2L), row("b", 3L)))
      .orderBy(col("g").asc_nulls_first)
    assert(General.firstGroup(df, Seq("g")).count() == 2)
  }

  test("fields + ddl round-trip (general.py:109-149)") {
    val df = table("a string, b bigint", Seq(row("x", 1L)))
    assert(General.fields(df).map(f => (f.name, f.dataType)) ==
      Seq(("a", StringType), ("b", LongType)))
    assert(General.fields(df, Seq("b")).map(_.name) == Seq("b"))
    assert(General.ddlSchema(df).contains("a STRING"))
  }

  test("arrayDiff matches np.diff semantics (udfs.py:7-10)") {
    val df = table("id bigint, xs array<float>", Seq(
      row(1L, Seq(1.0f, 3.0f, 6.0f, 10.0f)),
      row(2L, Seq(5.0f)),
      row(3L, null)))
    val out = df.select(col("id"), ArrayFunctions.arrayDiff(col("xs")).as("d"))
      .orderBy("id").collect()
    assert(out(0).getSeq[Float](1).toList == List(2.0f, 3.0f, 4.0f))
    assert(out(1).getSeq[Float](1).isEmpty)
    assert(out(2).isNullAt(1))
    // UDF variant agrees
    val viaUdf = df.select(col("id"), ArrayFunctions.arrayDiffUdf(col("xs")).as("d"))
      .orderBy("id").collect()
    assert(viaUdf(0).getSeq[Float](1).toList == List(2.0f, 3.0f, 4.0f))
  }

  test("convertToSparkCol lifts names, passes Columns, rejects the rest (general.py:29-39)") {
    val df = table("x bigint", Seq(row(1L), row(2L)))
    assert(df.select(General.convertToSparkCol("x")).collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(df.select(General.convertToSparkCol(col("x") + 1)).collect()
      .map(_.getLong(0)).toSet == Set(2L, 3L))
    intercept[IllegalArgumentException](General.convertToSparkCol(null))
    intercept[IllegalArgumentException](General.convertToSparkCol(true))
    intercept[IllegalArgumentException](General.convertToSparkCol(1.5))
  }

  test("ColumnLike magnet lifts strings and Columns at compile time (decorators.py/factories.py)") {
    import General.DataFrameOps
    val df = table("g string, v bigint", Seq(row("a", 1L), row("b", 5L)))
    // same call sites take a bare name and an expression Column
    val out = df.selecting("g", col("v") * 2).filtering(col("v") > 2)
    assert(out.columns.toSeq == Seq("g", "(v * 2)"))
    assert(out.collect().map(_.getLong(1)).toSeq == Seq(10L))
    // the string form lifts to col(...) — filters on boolean truthiness
    val flagged = table("g string, ok boolean", Seq(row("a", true), row("b", false)))
    assert(flagged.filtering("ok").collect().map(_.getString(0)).toSeq == Seq("a"))
  }

  test("withGroupTotals equals the window formulation, broadcast plan") {
    val df = table("g string, v bigint", Seq(
      row("a", 1L), row("a", 2L), row("b", 30L), row("b", 10L)))
    val viaJoin = General.withGroupTotals(df, Seq("g"),
      "total" -> sum(col("v")), "n" -> count(lit(1)))
    val viaWindow = df
      .withColumn("total", sum(col("v")).over(General.windowSpec(Seq("g"))))
      .withColumn("n", count(lit(1)).over(General.windowSpec(Seq("g"))))
    assertDfEquality(
      viaJoin.orderBy("g", "v"), viaWindow.orderBy("g", "v"),
      ignoreNullable = true)
    val plan = viaJoin.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("bpeTokenCount counts word runs and punctuation separately") {
    val df = table("text string", Seq(
      row("Hello, world!"),          // Hello , world ! -> 4
      row("don't stop"),             // don ' t stop -> 4
      row("abc"),                    // 1
      row("  spaced   out  ")))      // spaced out -> 2
    import graft.functions.TextFunctions
    val got = df.select(TextFunctions.bpeTokenCount(col("text"))).collect().map(_.getInt(0)).toSeq
    assert(got == Seq(4, 4, 1, 2))
  }

  test("token/document frequencies: map-side-combined counts") {
    import graft.operators.Corpus
    val df = table("text string", Seq(
      row("a b a"), row("a c"), row("b b b")))
    val tf = Corpus.tokenFrequencies(df, "text").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tf == Map("a" -> 3L, "b" -> 4L, "c" -> 1L))
    val dfreq = Corpus.documentFrequencies(df, "text").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dfreq == Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
  }

  test("chunkTokens: sliding windows with overlap and a short tail") {
    import graft.operators.Corpus
    // 10 tokens, chunk 4, stride 3 -> windows [1-4],[4-7],[7-10] (j=0,1,2)
    val df = table("doc_id bigint, text string",
      Seq(row(1L, (1 to 10).map(i => s"t$i").mkString(" ")), row(2L, "a")))
    val got = Corpus.chunkTokens(df, "doc_id", "text", chunkSize = 4, stride = 3)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[String](2)))
    assert(got(0)._3 == Seq("t1", "t2", "t3", "t4"))
    assert(got(1)._3 == Seq("t4", "t5", "t6", "t7")) // 1-token overlap
    assert(got(2)._3 == Seq("t7", "t8", "t9", "t10"))
    // single-token doc -> exactly one short chunk
    assert(got.count(_._1 == 2L) == 1 && got.last._3 == Seq("a"))
  }

  test("tfidf: smoothed weights from tf and broadcast document frequencies") {
    import graft.operators.Corpus
    val df = table("doc_id bigint, text string", Seq(
      row(1L, "a b a"), row(2L, "a c"), row(3L, "b b b")))
    val w = Corpus.tfidf(df, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // doc 1, token a: tf=2, df=2, weight = 2*(ln(4/3)+1)
    val (tfA, dfA, wA) = w((1L, "a"))
    assert(tfA == 2L && dfA == 2L)
    assert(math.abs(wA - 2.0 * (math.log(4.0 / 3.0) + 1.0)) < 1e-12)
    // token c appears once in one doc: weight = 1*(ln(4/2)+1)
    val (_, _, wC) = w((2L, "c"))
    assert(math.abs(wC - (math.log(2.0) + 1.0)) < 1e-12)
  }

  test("saltedJoin equals the plain join; salted agg merges partials (skew path)") {
    import graft.operators.Skew
    // skewed: key "hot" dominates
    val left = table("id bigint, k string, v bigint",
      (1L to 50L).map(i => row(i, if (i <= 40) "hot" else s"k$i", i)))
    val right = table("k string, label string", Seq(
      row("hot", "H"), row("k45", "A"), row("k50", "B")))
    val plain = left.join(right, Seq("k")).select("id", "k", "v", "label")
      .orderBy("id").collect().map(_.toSeq).toSeq
    val salted = Skew.saltedJoin(left, right, Seq("k"), saltBy = "id", nSalts = 4)
      .select("id", "k", "v", "label")
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(salted == plain)
    assert(plain.size == 42)
    // salted two-phase collect_set equals direct collect_set
    val direct = left.groupBy("k").agg(collect_set(col("v")).as("vs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
    val viaSalt = Skew.saltedAgg(left, Seq("k"), "id", 4,
        partial = collect_set, merge = c => array_distinct(flatten(collect_list(c))),
        valueCol = "v", outCol = "vs")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
    assert(viaSalt == direct)
  }

  test("skewPlanReport: hand-computed hot keys, salt ceiling, empty when uniform") {
    import graft.operators.Skew
    // "hot" x 20, "k1".."k10" x 2 -> total 40, 11 keys, mean = floor(40/11) = 3;
    // hot iff n > 4*3 = 12 -> only "hot"; salt = ceil(20 / (2*3)) = 4
    val rows = (1 to 20).map(_ => row("hot")) ++
      (1 to 10).flatMap(i => Seq(row(s"k$i"), row(s"k$i")))
    val df = table("k string", rows)
    val out = Skew.skewPlanReport(df, Seq("k"), hotFactor = 4, targetFactor = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(out.toSeq == Seq(("hot", 20L, 3L, 4)))
    // uniform distribution -> empty report, not an error
    val uniform = table("k string", ('a' to 'e').map(c => row(c.toString)))
    assert(Skew.skewPlanReport(uniform, Seq("k")).isEmpty)
    // NULL keys group as ONE key, exactly as the modeled shuffle would
    val withNull = table("k string",
      (1 to 30).map(_ => row(null.asInstanceOf[String])) ++
        ('a' to 'j').map(c => row(c.toString)))
    // total 40, 11 keys, mean 3; null-key n=30 > 12 -> hot, salt ceil(30/6)=5
    val hotNull = Skew.skewPlanReport(withNull, Seq("k")).collect()
    assert(hotNull.length == 1 && hotNull(0).isNullAt(0) &&
      hotNull(0).getLong(1) == 30L && hotNull(0).getInt(3) == 5)
    // empty frame fails loudly
    val err = intercept[IllegalArgumentException] {
      Skew.skewPlanReport(df.filter(lit(false)), Seq("k"))
    }
    assert(err.getMessage.contains("non-empty"))
  }

  test("joinExplosionAudit: hand-computed products, topN cutoff, disjoint fails") {
    import graft.operators.Skew
    val left = table("k string", Seq(
      row("a"), row("a"), row("a"),            // a x3
      row("b"), row("b"),                      // b x2
      row("c"),                                // c x1
      row("only_left")))
    val right = table("k string", Seq(
      row("a"), row("a"),                      // a x2
      row("b"), row("b"), row("b"),            // b x3
      row("c"),                                // c x1
      row("only_right")))
    // products: a=6, b=6, c=1; total 13; one-sided keys absent
    val out = Skew.joinExplosionAudit(left, right, Seq("k"), topN = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    // tie on out_rows=6 breaks by key: a before b; c cut by topN
    assert(out.toSeq == Seq(
      ("a", 3L, 2L, 6L, math.round(6.0 / 13.0 * 1e6) / 1e6),
      ("b", 2L, 3L, 6L, math.round(6.0 / 13.0 * 1e6) / 1e6)))
    // no key on both sides -> loud, not an empty report
    assert(intercept[IllegalArgumentException] {
      Skew.joinExplosionAudit(left.filter(col("k") === "only_left"),
        right.filter(col("k") === "only_right"), Seq("k"), 5)
    }.getMessage.contains("both sides"))
  }

  test("partitioned parquet write: reads back with partition pruning") {
    import graft.sources.Sinks
    val dir = tempDir("graft-part") + "/t"
    val df = table("id bigint, lang string, v bigint",
      (1L to 30L).map(i => row(i, if (i % 3 == 0) "en" else "fr", i * 2)))
    Sinks.writePartitioned(df, dir, Seq("lang"))
    // hive-style layout on disk
    val subdirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(subdirs.toSeq == Seq("lang=en", "lang=fr"))
    val back = graft.testkit.SparkTestKit.spark.read.parquet(dir)
      .filter(col("lang") === "en")
    assert(back.count() == 10L)
    // the partition filter prunes directories at plan time
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"), plan)
  }

  test("bucketed tables co-locate: equi-join plans with NO shuffle exchange") {
    val s = graft.testkit.SparkTestKit.spark
    val a = table("id bigint, v bigint", (1L to 100L).map(i => row(i, i * 10)))
    val b = table("id bigint, w string", (1L to 100L).map(i => row(i, s"w$i")))
    a.write.mode("overwrite").bucketBy(4, "id").sortBy("id").saveAsTable("bt_a")
    b.write.mode("overwrite").bucketBy(4, "id").sortBy("id").saveAsTable("bt_b")
    val prevThreshold = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
      val joined = s.table("bt_a").join(s.table("bt_b"), "id")
      assert(joined.count() == 100L)
      val plan = joined.queryExecution.executedPlan.toString
      // bucket-pruned co-located join: neither side shuffles
      assert(!plan.contains("Exchange hashpartitioning"), plan)
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("bucketed overwrite in a non-default database never touches default's table") {
    import graft.sources.Sinks
    val s = graft.testkit.SparkTestKit.spark
    val live = table("id bigint, v bigint", (1L to 20L).map(i => row(i, i)))
    live.write.mode("overwrite").format("parquet").saveAsTable("orphan_probe")
    s.sql("CREATE DATABASE IF NOT EXISTS graft_alt")
    try {
      s.catalog.setCurrentDatabase("graft_alt")
      // graft_alt.orphan_probe is absent from the catalog, so the
      // orphan-location cleanup fires — it must resolve to graft_alt's
      // managed location, not delete default.orphan_probe's live files
      Sinks.writeBucketedTable(
        table("id bigint, w bigint", (1L to 5L).map(i => row(i, i * 2))),
        "orphan_probe", buckets = 2, bucketCols = Seq("id"))
      assert(s.table("graft_alt.orphan_probe").count() == 5L)
      assert(s.table("default.orphan_probe").count() == 20L)
    } finally {
      s.catalog.setCurrentDatabase("default")
      s.sql("DROP DATABASE IF EXISTS graft_alt CASCADE")
      s.sql("DROP TABLE IF EXISTS default.orphan_probe")
    }
  }

  test("topKPerGroup: bounded-heap aggregator equals the window formulation") {
    import graft.functions.Aggregators
    val df = table("g string, score bigint, id bigint", Seq(
      row("a", 5L, 1L), row("a", 9L, 2L), row("a", 9L, 3L), row("a", 1L, 4L),
      row("b", 7L, 5L), row("b", 2L, 6L)))
    val got = Aggregators.topKPerGroup(df, Seq("g"), "score", "id", 2)
      .orderBy("g", "id").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    // group a: ties at 9 break toward the lower id (2 then 3); group b: both rows
    assert(got == Seq(("a", 9.0, 2L), ("a", 9.0, 3L), ("b", 7.0, 5L), ("b", 2.0, 6L)))
  }

  test("TopK aggregators: any partition split + merge equals global sort-take") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import graft.functions.Aggregators.{Scored, ScoredKey, TopK, TopKByKey}
    // scores from a SMALL discrete pool so ties are common — the
    // tie-break path is the one a uniform-double generator never hits
    val elems = Gen.listOf(Gen.chooseNum(-3, 3).map(_.toDouble))
    val prop = Prop.forAll(elems, Gen.chooseNum(1, 6), Gen.chooseNum(1, 4)) {
      (scores, k, nParts) =>
        val xs = scores.zipWithIndex // index = unique id
        // long-keyed heap: fold each slice, merge across slices
        val agg = new TopK(k)
        val merged = xs.groupBy(_._2 % nParts).values
          .map(_.map { case (s, i) => Scored(s, i.toLong) }
            .foldLeft(agg.zero)(agg.reduce))
          .foldLeft(agg.zero)(agg.merge)
        val expected = xs.map { case (s, i) => Scored(s, i.toLong) }
          .sortBy(e => (-e.score, e.id)).take(k)
        val strAgg = new TopKByKey(k)
        val strMerged = xs.groupBy(_._2 % nParts).values
          .map(_.map { case (s, i) => ScoredKey(s, f"id-$i%03d") }
            .foldLeft(strAgg.zero)(strAgg.reduce))
          .foldLeft(strAgg.zero)(strAgg.merge)
        val strExpected = xs.map { case (s, i) => ScoredKey(s, f"id-$i%03d") }
          .sortBy(e => (-e.score, e.id)).take(k)
        agg.finish(merged) == expected && strAgg.finish(strMerged) == strExpected
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, s"topk split/merge property: ${res.status}")
  }

  test("TopK vs TopKByKey tie-break divergence: numeric 9 < 10, lexicographic '10' < '9'") {
    // Documented divergence (Aggregators scaladoc): at a score tie the
    // long-keyed heap keeps the NUMERICALLY smaller id, the string-keyed
    // twin the LEXICOGRAPHICALLY smaller one. A caller switching a
    // pipeline's id column between long and string sees different
    // survivors at ties — this pins the exact shape of that difference.
    import graft.functions.Aggregators.{Scored, ScoredKey, TopK, TopKByKey}
    val numAgg = new TopK(1)
    val numeric = Seq(Scored(1.0, 10L), Scored(1.0, 9L))
      .foldLeft(numAgg.zero)(numAgg.reduce)
    assert(numAgg.finish(numeric).map(_.id) == Seq(9L)) // 9 < 10 numerically
    val strAgg = new TopKByKey(1)
    val lex = Seq(ScoredKey(1.0, "10"), ScoredKey(1.0, "9"))
      .foldLeft(strAgg.zero)(strAgg.reduce)
    assert(strAgg.finish(lex).map(_.id) == Seq("10")) // "10" < "9" lexicographically
  }

  test("topKPerGroup: non-integral id column fails loudly, never empty") {
    import graft.functions.Aggregators
    val df = table("g string, score bigint, id string", Seq(
      row("a", 5L, "doc-1"), row("a", 9L, "doc-2")))
    val e = intercept[IllegalArgumentException] {
      Aggregators.topKPerGroup(df, Seq("g"), "score", "id", 2)
    }
    assert(e.getMessage.contains("integral"))
  }

  test("withContiguousRowIds: 0..n-1 in sort order across partitions") {
    val df = table("k bigint, v string",
      scala.util.Random.shuffle((0L until 40L).toList).map(i => row(i, s"v$i")))
    val out = General.withContiguousRowIds(df, Seq("k")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    // ids are contiguous 0..39 and follow k order exactly
    assert(out.map(_._1).toSeq == (0L until 40L))
    assert(out.map(_._2).toSeq == (0L until 40L))
  }

  test("withContiguousRowIdsPerGroup: equals the per-group window on skewed groups") {
    // one dominant group (80%) + two small ones + a NULL group —
    // the skew case the group-partitioned window single-tasks
    val rnd = new scala.util.Random(5)
    val rows = (0L until 100L).map { i =>
      val g: Any = if (i % 10 == 9) null
        else if (i % 10 == 8) "small"
        else "big"
      row(g, rnd.nextInt(20).toLong, i)
    }
    val df = table("g string, v bigint, id bigint", rows).repartition(7)
    val got = General.withContiguousRowIdsPerGroup(
        df, Seq("g"), Seq("v", "id"), "rk")
      .collect().map(r => (Option(r.getString(0)), r.getLong(2), r.getLong(3)))
    // reference: the window formulation
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("v", "id")
    val exp = df.withColumn("rk", (row_number().over(w) - 1).cast("long"))
      .collect().map(r => (Option(r.getString(0)), r.getLong(2), r.getLong(3)))
    assert(got.sortBy(_._2).toSeq == exp.sortBy(_._2).toSeq)
    // ranks are contiguous 0..n_g-1 within every group (incl. NULL)
    got.groupBy(_._1).foreach { case (g, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (0L until rs.length),
        s"group $g ranks not contiguous")
    }
  }

  test("cosine similarity of identical vectors is 1") {
    val df = table("a array<float>, b array<float>",
      Seq(row(Seq(1.0f, 2.0f, 2.0f), Seq(1.0f, 2.0f, 2.0f))))
    val sim = df.select(ArrayFunctions.cosineSimilarity(col("a"), col("b")).as("s"))
      .head().getDouble(0)
    assert(math.abs(sim - 1.0) < 1e-12)
    val dot = df.select(ArrayFunctions.dotProduct(col("a"), col("b")).as("d"))
      .head().getDouble(0)
    assert(dot == 9.0)
  }
}
