package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Generic, Grouped, Reshape}
import graft.testkit.SparkTestKit._

class GroupedReshapeSpec extends AnyFunSuite {

  test("applyPerGroup re-broadcasts keys onto every output row (general.py:96-104)") {
    val df = table("g string, v bigint",
      Seq(row("a", 1L), row("a", 2L), row("b", 30L)))
    val out = Grouped.applyPerGroup(df, Seq("g"),
      StructType(Seq(StructField("total", LongType), StructField("n", LongType)))) {
      rows =>
        val vs = rows.map(_.getLong(1)).toSeq
        Iterator(Row(vs.sum, vs.size.toLong))
    }
    assert(out.columns.toSeq == Seq("g", "total", "n"))
    val got = out.orderBy("g").collect().map(_.toSeq).toSeq
    assert(got == Seq(Seq("a", 3L, 2L), Seq("b", 30L, 1L)))
  }

  test("applyPerGroup supports multi-row output per group (UDTF-like)") {
    val df = table("g string, v bigint", Seq(row("a", 1L), row("a", 2L)))
    val out = Grouped.applyPerGroup(df, Seq("g"),
      StructType(Seq(StructField("v2", LongType)))) { rows =>
      rows.map(r => Row(r.getLong(1) * 10))
    }
    assert(out.orderBy("v2").collect().map(_.toSeq).toSeq ==
      Seq(Seq("a", 10L), Seq("a", 20L)))
  }

  test("applyPerGroupSorted delivers rows in secondary-sort order") {
    val df = table("g string, seq bigint, v string", Seq(
      row("a", 3L, "z"), row("a", 1L, "x"), row("a", 2L, "y"),
      row("b", 2L, "q"), row("b", 1L, "p")))
    val out = Grouped.applyPerGroupSorted(df, Seq("g"), Seq("seq"),
      StructType(Seq(StructField("joined", StringType)))) { rows =>
      Iterator(Row(rows.map(_.getString(2)).mkString("")))
    }
    val got = out.orderBy("g").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("a", "xyz"), ("b", "pq")))
  }

  test("applyPerGroupTyped") {
    import graft.testkit.SparkTestKit.spark.implicits._
    val ds = Seq(("a", 1L), ("a", 2L), ("b", 5L)).toDS()
    val out = Grouped.applyPerGroupTyped(ds, (t: (String, Long)) => t._1) {
      (k, it) => Iterator((k, it.map(_._2).max))
    }
    assert(out.collect().toSeq.sorted == Seq(("a", 2L), ("b", 5L)))
  }

  test("unstack pivots to columns; stack melts back (pandas.py:21-64)") {
    val df = table("id string, cat string, v bigint", Seq(
      row("x", "p", 1L), row("x", "q", 2L), row("y", "p", 3L), row("y", "q", 4L)))
    val wide = Reshape.unstack(df, Seq("id"), "cat", "v", Seq("p", "q"))
    assert(wide.columns.toSeq == Seq("id", "p", "q"))
    assert(wide.orderBy("id").collect().map(_.toSeq).toSeq ==
      Seq(Seq("x", 1L, 2L), Seq("y", 3L, 4L)))
    val long = Reshape.stack(wide, Seq("id"), Seq("p", "q"), "cat", "v")
    assertDfEquality(
      long.orderBy("id", "cat"), df.orderBy("id", "cat"), ignoreNullable = true)
  }

  test("levelToTimestamp casts a key column in place (pandas.py:67-79)") {
    val df = table("period string, v bigint",
      Seq(row("2024-01-01", 1L), row("2024-02-01", 2L)))
    val out = Reshape.levelToTimestamp(df, "period")
    assert(out.schema("period").dataType == TimestampType)
    assert(out.orderBy("v").collect().map(_.getTimestamp(0).toString).toSeq ==
      Seq("2024-01-01 00:00:00.0", "2024-02-01 00:00:00.0"))
  }

  test("indexLevelValues returns distinct key combos (pandas.py:112-118)") {
    val df = table("a string, b bigint, v bigint", Seq(
      row("x", 1L, 10L), row("x", 1L, 20L), row("x", 2L, 30L), row("y", 1L, 40L)))
    val got = Reshape.indexLevelValues(df, Seq("a", "b")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(got == Seq(("x", 1L), ("x", 2L), ("y", 1L)))
  }

  test("within-year ffill carries last non-null forward per fiscal year (pandas.py:121-138)") {
    val df = table("k string, ts timestamp, v double", Seq(
      row("a", java.sql.Timestamp.valueOf("2024-02-01 00:00:00"), 1.0),
      row("a", java.sql.Timestamp.valueOf("2024-03-01 00:00:00"), null),
      row("a", java.sql.Timestamp.valueOf("2025-01-01 00:00:00"), null),
      // New fiscal year starts Feb: the null must NOT inherit 1.0.
      row("a", java.sql.Timestamp.valueOf("2025-02-01 00:00:00"), null),
      row("a", java.sql.Timestamp.valueOf("2025-03-01 00:00:00"), 9.0)))
    val out = Reshape.shiftedWithinYearFfill(df, "ts", "v", Seq("k"))
      .orderBy("ts").collect().map(r => Option(r.get(2))).toSeq
    assert(out == Seq(Some(1.0), Some(1.0), Some(1.0), None, Some(9.0)))
  }

  test("shiftedWithinYearApply runs an arbitrary method per fiscal-year group (pandas.py:121-133)") {
    // Mean-imputation: nulls take the (key, fiscal-year) group mean.
    // Feb 2025 starts a NEW fiscal year, so its null must use the 2025
    // group's mean (9.0), not the 2024 group's (2.0).
    val df = table("k string, ts timestamp, v double", Seq(
      row("a", java.sql.Timestamp.valueOf("2024-02-01 00:00:00"), 1.0),
      row("a", java.sql.Timestamp.valueOf("2024-03-01 00:00:00"), null),
      row("a", java.sql.Timestamp.valueOf("2024-04-01 00:00:00"), 3.0),
      row("a", java.sql.Timestamp.valueOf("2025-02-01 00:00:00"), null),
      row("a", java.sql.Timestamp.valueOf("2025-03-01 00:00:00"), 9.0)))
    val out = Reshape.shiftedWithinYearApply(df, "ts",
        StructType(Seq(StructField("ts", TimestampType), StructField("vi", DoubleType))),
        keys = Seq("k")) { rows =>
      val buf = rows.toVector
      val vs = buf.collect { case r if !r.isNullAt(2) => r.getDouble(2) }
      val mean = if (vs.isEmpty) null else (vs.sum / vs.size): java.lang.Double
      buf.iterator.map(r => Row(r.getTimestamp(1),
        if (r.isNullAt(2)) mean else r.getDouble(2)))
    }
    assert(out.columns.toSeq == Seq("k", "fiscal_year", "ts", "vi"))
    val got = out.orderBy("ts").collect()
      .map(r => (r.getInt(1), r.getDouble(3))).toSeq
    assert(got == Seq((2024, 1.0), (2024, 2.0), (2024, 3.0), (2025, 9.0), (2025, 9.0)))
  }

  test("fiscalYear assigns Jan to the previous year") {
    val df = table("ts timestamp", Seq(
      row(java.sql.Timestamp.valueOf("2024-01-15 00:00:00")),
      row(java.sql.Timestamp.valueOf("2024-02-15 00:00:00"))))
    assert(df.select(Reshape.fiscalYear(col("ts"))).collect().map(_.getInt(0)).toSeq ==
      Seq(2023, 2024))
  }

  test("generic: fillTuples bfill/ffill, repeat and null fills (test_generic.py:84-112)") {
    assert(Generic.fillTuples(Seq(Seq(1, 2), 3)) == Seq(Seq(1, 2), Seq(null, 3)))
    assert(Generic.fillTuples(Seq(Seq(1, 2), 3), fillMethod = "ffill") ==
      Seq(Seq(1, 2), Seq(3, null)))
    assert(Generic.fillTuples(Seq(Seq(1, 2), 3), repeat = true) ==
      Seq(Seq(1, 2), Seq(3, 3)))
    // no sequences at all -> untouched scalars wrapped
    assert(Generic.fillTuples(Seq(1, 2)) == Seq(Seq(1), Seq(2)))
  }

  test("generic: nested flatten/unflatten/invert (generic.py:9-11)") {
    val d: Generic.NestedMap = Map("a" -> Map("x" -> 1, "y" -> 2), "b" -> 3)
    val flat = Generic.flattenNested(d)
    assert(flat == Map(Vector("a", "x") -> 1, Vector("a", "y") -> 2, Vector("b") -> 3))
    assert(Generic.unflatten(flat) == d)
    val inv = Generic.invertNestedKeys(Map("a" -> Map("x" -> 1)))
    assert(inv == Map("x" -> Map("a" -> 1)))
  }

  test("generic: keyValuePairs explodes sequence values (generic.py:14-25)") {
    val pairs = Generic.keyValuePairs(Map("a" -> Seq(1, 2), "b" -> 3)).toSet
    assert(pairs == Set(("a", 1), ("a", 2), ("b", 3)))
  }

  test("nestedDictToDf promotes a ragged nested map to a long-form frame (pandas.py:9-18)") {
    val df = Generic.nestedDictToDf(spark,
      Map("a" -> Map("x" -> 1, "y" -> 2), "b" -> 3), Seq("l0", "l1"))
    assert(df.columns.toSeq == Seq("l0", "l1", "value"))
    assert(df.schema("value").dataType == IntegerType)
    val got = df.orderBy("l0", "l1").collect().map(_.toSeq).toSeq
    // ragged key 'b' ffills: trailing level null
    assert(got == Seq(Seq("a", "x", 1), Seq("a", "y", 2), Seq("b", null, 3)))
  }

  test("nestedDictToDf widens heterogeneous values instead of failing at encode time") {
    // Int mixed with Double -> double column, every value coerced
    val nums = Generic.nestedDictToDf(spark, Map("a" -> 1, "b" -> 2.5))
    assert(nums.schema("value").dataType == DoubleType)
    assert(nums.collect().map(_.getDouble(1)).toSet == Set(1.0, 2.5))
    // Int mixed with String -> string fallback
    val mixed = Generic.nestedDictToDf(spark, Map("a" -> 1, "b" -> "two"))
    assert(mixed.schema("value").dataType == StringType)
    assert(mixed.collect().map(_.getString(1)).toSet == Set("1", "two"))
    // Int mixed with Long -> bigint
    val longs = Generic.nestedDictToDf(spark, Map("a" -> 1, "b" -> 5L))
    assert(longs.schema("value").dataType == LongType)
    assert(longs.collect().map(_.getLong(1)).toSet == Set(1L, 5L))
  }

  test("Case/parametrizeCases labeled-case harness (testing.py:19-87, conftest.py:71-154)") {
    parametrizeCases(
      Case("jan belongs to prior fiscal year",
        Map("ts" -> "2024-01-15 00:00:00", "fy" -> 2023)),
      Case("feb starts new fiscal year",
        Map("ts" -> "2024-02-15 00:00:00", "fy" -> 2024)).withDefaults("fy" -> -1)
    ) { c =>
      val df = table("ts timestamp",
        Seq(row(java.sql.Timestamp.valueOf(c[String]("ts")))))
      assert(df.select(Reshape.fiscalYear(col("ts"))).head().getInt(0) == c[Int]("fy"))
    }
    // failures carry the case label
    val e = intercept[AssertionError] {
      parametrizeCases(Case("doomed")) { _ => assert(1 == 2) }
    }
    assert(e.getMessage.contains("[case: doomed]"))
  }
}
