package graft.testkit

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Shared local SparkSession for the test suite — one JVM-wide session
  * (Spark's getOrCreate caches), mirroring the reference's
  * session-scoped pytest fixture (`/root/reference/tests/conftest.py:28-41`).
  */
object SparkTestKit {
  lazy val spark: SparkSession = graft.Session.local("4")(
    _.appName("graft-tests")
      .config("spark.sql.warehouse.dir", graft.Session.scratch("warehouse")))

  /** A fresh dir whose name starts with `prefix`, under the JVM's
    * scratch root ([[graft.Session.scratchRoot]]), so the test JVM's
    * exit deletes it with the root. */
  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(graft.Session.scratchRoot, prefix)
      .toString

  /** Tuple-table builder: DDL schema + rows, the ScalaTest analogue of
    * the reference's `create_dataframe` (`ons_utils/testing.py:14-16`). */
  def table(ddl: String, rows: Seq[Row]): DataFrame = {
    val schema = StructType.fromDDL(ddl)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
  }

  def row(values: Any*): Row = Row(values: _*)

  /** Labeled test case — the ScalaTest analogue of the reference's
    * `Case` (`/root/reference/ons_utils/testing.py:19-87`,
    * `tests/conftest.py:71-154`): a description plus named arguments.
    * Typed getters replace Python kwargs; suite-level defaults come in
    * via [[Case.withDefaults]]. */
  final case class Case(label: String, args: Map[String, Any] = Map.empty) {
    def apply[T](key: String): T = args.getOrElse(key,
      throw new NoSuchElementException(s"case '$label' has no arg '$key'")
    ).asInstanceOf[T]
    def getOrElse[T](key: String, default: => T): T =
      args.get(key).map(_.asInstanceOf[T]).getOrElse(default)
    def withDefaults(defaults: (String, Any)*): Case =
      copy(args = defaults.toMap ++ args)
  }

  /** `parametrize_cases`: run the body once per labeled case; a failure
    * is re-thrown with the case label prepended so the failing case is
    * identifiable (pytest's parametrized test ids). */
  def parametrizeCases(cases: Case*)(body: Case => Unit): Unit =
    cases.foreach { c =>
      try body(c)
      catch {
        case e: Throwable =>
          throw new AssertionError(s"[case: ${c.label}] ${e.getMessage}", e)
      }
    }

  /** chispa-style equality: schema (optionally ignoring nullability) and
    * collected rows (optionally order-insensitive). */
  def assertDfEquality(
      actual: DataFrame,
      expected: DataFrame,
      ignoreNullable: Boolean = true,
      ignoreRowOrder: Boolean = false): Unit = {
    def norm(s: StructType): Seq[(String, String)] =
      s.fields.toSeq.map(f =>
        (f.name, f.dataType.simpleString + (if (ignoreNullable) "" else s":${f.nullable}")))
    val (as, es) = (norm(actual.schema), norm(expected.schema))
    assert(as == es, s"schema mismatch:\n  actual:   $as\n  expected: $es")
    def rows(df: DataFrame): Seq[Seq[Any]] = {
      val r = df.collect().toSeq.map(_.toSeq)
      if (ignoreRowOrder) r.sortBy(_.mkString("|")) else r
    }
    val (ar, er) = (rows(actual), rows(expected))
    assert(ar == er, s"row mismatch:\n  actual:   $ar\n  expected: $er")
  }
}
