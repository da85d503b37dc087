package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of the executor blocks operators materialize.
  *
  * Ownership rule: a block an operator call materializes belongs to
  * that call. Operator-level checkpoints go through [[scoped]], which
  * frees every block the call made when it returns, except the blocks
  * its returned frame still reads, and frees all of them when it
  * throws. A returned frame that reads its own blocks hands them to the
  * caller, who frees them with [[release]] (or [[consuming]]) once the
  * frame is fully consumed.
  *
  * Why release at all: Spark frees a checkpoint's blocks only when the
  * driver GCs the RDD handle and the ContextCleaner notices, which in a
  * long-lived session (a service, a notebook, a bench harness) can be
  * minutes-to-never. Dead blocks compound into block-manager and disk
  * pressure that slows every job AFTER the one that made them.
  *
  * Primitives whose returned frames read their blocks by design
  * ([[General.withContiguousRowIds]], [[General.withRunningTotal]] and
  * their siblings) and `persist` in [[Ivf]]/[[Pq]] training manage
  * their own blocks; the caller releases those frames explicitly.
  */
object Blocks {

  /** The checkpoints one [[scoped]] call owns. Driver-side bookkeeping
    * only: it launches no Spark job of its own. */
  final class Scope private[Blocks] () {
    private val owned = scala.collection.mutable.Map.empty[Int, RDD[_]]

    /** `df.localCheckpoint()` (eager), owned by this scope. If the
      * materialization throws (a `raise_error` guard inside the plan, a
      * failed task), the half-built RDD Spark already registered is
      * freed before the error propagates. That RDD is found as a
      * persisted RDD newer than the call, so an RDD another driver
      * thread persists during a failing call is freed too. */
    def checkpoint(df: DataFrame): DataFrame = {
      val sc = df.sparkSession.sparkContext
      val mark = rddIdMark(sc)
      val c = try df.localCheckpoint() catch {
        case t: Throwable =>
          sc.getPersistentRDDs.filter(_._1 > mark).values.foreach(free)
          throw t
      }
      leafRdds(c).foreach(r => owned(r.id) = r)
      c
    }

    /** Free a checkpoint this scope made and the caller no longer
      * needs (a superseded loop generation). Any other frame is
      * rejected: the scope frees only what it owns. */
    def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
      case lr: LogicalRDD if owned.contains(lr.rdd.id) =>
        owned -= lr.rdd.id
        free(lr.rdd)
      case _ => throw new IllegalArgumentException(
        "Blocks.Scope.release: the frame is not a checkpoint of this scope")
    }

    private[Blocks] def freeAllBut(keep: Seq[Dataset[_]]): Unit = {
      val kept = reachable(keep)
      owned.values.filterNot(r => kept.contains(r.id)).foreach(free)
    }
  }

  /** Run `body` with a fresh [[Scope]] and apply the ownership rule
    * when it exits. On a normal return, the scope frees every block it
    * owns that the result does not read. The result's frames are the
    * result itself when it is a `Dataset`, or the `Dataset` fields of a
    * tuple or case class (not of a collection); any other result frees
    * every block. On a throw, the scope frees every block it owns. */
  def scoped[T](body: Scope => T): T = {
    val scope = new Scope
    val result = try body(scope) catch {
      case t: Throwable =>
        scope.freeAllBut(Nil)
        throw t
    }
    scope.freeAllBut(result match {
      case ds: Dataset[_] => Seq(ds)
      case p: Product if !p.isInstanceOf[Iterable[_]] =>
        p.productIterator.collect { case ds: Dataset[_] => ds }.toSeq
      case _ => Nil
    })
    result
  }

  /** Unpersist every persisted RDD reachable from `df`'s RDD-backed
    * leaves. Walks the analyzed plan for `LogicalRDD` leaves (the shape
    * both `localCheckpoint` results and `createDataFrame(rdd, schema)`
    * frames analyze to), then walks each leaf RDD's dependency graph so
    * a checkpointed RDD sitting BEHIND a derived leaf — the sorted
    * checkpoint under [[General.withContiguousRowIds]]'s id-attaching
    * `mapPartitionsWithIndex`, for example — is found and freed too.
    *
    * Contract: after release the frame CANNOT be recomputed (an
    * unpersisted local checkpoint has no lineage to rebuild from), so
    * this must only run on a frame whose every consumer has already
    * executed. Safe to call on frames with no RDD-backed state at all
    * (pure parquet-scan plans): it finds nothing and does nothing.
    *
    * Shared-lineage hazard: the walk frees every persisted RDD the
    * frame's plan REACHES, including checkpoints shared with OTHER
    * still-live frames derived from the same intermediate — two frames
    * built over one [[General.withContiguousRowIds]] result share its
    * checkpoint, and releasing either breaks the other with Spark's
    * cannot-recompute error. Release only after ALL frames descending
    * from the shared intermediate are consumed, not just this one — or
    * use [[releaseExcept]] to free a consumed sibling while explicitly
    * keeping every block the survivors still reach. */
  def release(df: DataFrame): Unit = releaseExcept(df, Nil)

  /** [[release]] minus the blocks any `live` frame still needs: frees
    * every persisted RDD reachable from `df` EXCEPT those also
    * reachable from a frame in `live` — the API form of the
    * shared-lineage hazard documented on [[release]]. Two frames built
    * over one [[General.withContiguousRowIds]] intermediate share its
    * checkpoint; `release(first)` would kill the second with Spark's
    * cannot-recompute error, while `releaseExcept(first, Seq(second))`
    * frees only what the first owns outright and leaves every shared
    * block for the survivors. When the last sibling is consumed, a
    * plain [[release]] on it frees the shared remainder.
    *
    * The ownership computation is driver-side plan/RDD-graph walking
    * only (no jobs, no data movement), so calling it per consumed frame
    * in a long pipeline costs microseconds. */
  def releaseExcept(df: DataFrame, live: Seq[DataFrame]): Unit =
    (reachable(Seq(df)) -- reachable(live).keys).values
      .filter(_.getStorageLevel != StorageLevel.NONE)
      .foreach(free)

  /** An id every RDD made after this call exceeds (RDD ids only grow).
    * It reads no registry: walking `getPersistentRDDs` on every call
    * keeps weakly held garbage RDDs alive, so their blocks would wait
    * longer for the driver GC. */
  private[graft] def rddIdMark(sc: SparkContext): Int = sc.emptyRDD[Unit].id

  /** [[release]] limited to the RDDs made after `mark` ([[rddIdMark]]):
    * frees what a call built behind a frame it has since materialized
    * (a nested primitive's checkpoint, say), never a block its caller
    * already held. */
  private[graft] def releaseSince(df: DataFrame, mark: Int): Unit =
    reachable(Seq(df)).filter(_._1 > mark).values
      .filter(_.getStorageLevel != StorageLevel.NONE)
      .foreach(free)

  /** Loan pattern over [[release]]: hand `df` to `use`, then release
    * its blocks no matter how `use` exits. `use` must fully CONSUME the
    * frame (run its actions — aggregate, write, collect) before
    * returning; returning a lazy plan that still reads `df` violates
    * the contract and fails later with Spark's cannot-recompute error.
    * [[release]]'s shared-lineage hazard applies equally: sibling
    * frames over the same checkpointed intermediate die with it. */
  def consuming[T](df: DataFrame)(use: DataFrame => T): T =
    try use(df) finally release(df)

  private def leafRdds(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectWithSubqueries { case lr: LogicalRDD => lr.rdd }

  /** Every RDD the frames' plans reach, by id: the RDD-backed leaves
    * and their whole dependency graphs. */
  private def reachable(frames: Seq[Dataset[_]]): Map[Int, RDD[_]] = {
    val seen = scala.collection.mutable.Map.empty[Int, RDD[_]]
    def walk(rdd: RDD[_]): Unit = if (seen.put(rdd.id, rdd).isEmpty)
      rdd.dependencies.foreach(d => walk(d.rdd))
    frames.foreach(leafRdds(_).foreach(walk))
    seen.toMap
  }

  private def free(rdd: RDD[_]): Unit = rdd.unpersist(blocking = false)
}
