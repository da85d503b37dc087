package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of the executor blocks the library materializes.
  *
  * Ownership rule: this object is the only caller of Spark's
  * `localCheckpoint`, and every checkpoint made through it belongs to
  * the innermost [[scoped]] call open on the calling thread. That scope
  * frees every block it owns when it returns, except the blocks its
  * returned frame still reads, and frees all of them when it throws. A
  * nested scope hands the blocks its result reads up to the enclosing
  * scope, so a chain of operators and primitives frees everything it
  * made when the outermost scope returns. With no scope open a
  * checkpoint has no owner: the returned frame hands its blocks to the
  * caller, who frees them with [[release]] (or [[consuming]]) once the
  * frame is fully consumed.
  *
  * Why release at all: Spark frees a checkpoint's blocks only when the
  * driver GCs the RDD handle and the ContextCleaner notices, which in a
  * long-lived session (a service, a notebook, a bench harness) can be
  * minutes-to-never. Dead blocks compound into block-manager and disk
  * pressure that slows every job AFTER the one that made them.
  *
  * `persist` in [[Ivf]]/[[Pq]] training still manages its own blocks.
  */
object Blocks {

  /** The innermost open [[scoped]] call on this thread, or null. Not
    * inherited: a thread a scope's body starts (a stream's
    * `foreachBatch` thread) never writes into that scope. */
  private val current = new ThreadLocal[Scope]

  /** The checkpoints one [[scoped]] call owns. Driver-side bookkeeping
    * only: it launches no Spark job of its own. */
  final class Scope private[Blocks] (private[Blocks] val parent: Scope) {
    private val owned = scala.collection.mutable.Map.empty[Int, RDD[_]]

    /** [[Blocks.checkpoint]], owned by this scope. */
    def checkpoint(df: DataFrame): DataFrame = eager(this, df)

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

    private[Blocks] def own(rdds: Iterable[RDD[_]]): Unit =
      rdds.foreach(r => owned(r.id) = r)

    /** Free every owned block `keep` does not read; hand the rest to
      * the enclosing scope, if any. */
    private[Blocks] def close(keep: Seq[Dataset[_]]): Unit = {
      val kept = reachable(keep)
      val (live, dead) = owned.values.partition(r => kept.contains(r.id))
      dead.foreach(free)
      if (parent != null) parent.own(live)
    }
  }

  /** Run `body` with a fresh [[Scope]], the current one on this thread
    * until `body` exits, and apply the ownership rule when it exits.
    * On a normal return, the scope frees every block it owns that the
    * result does not read. The result's frames are the result itself
    * when it is a `Dataset`, or the `Dataset` fields of a tuple or case
    * class (not of a collection); any other result frees every block.
    * On a throw, the scope frees every block it owns. */
  def scoped[T](body: Scope => T): T = {
    val scope = new Scope(current.get)
    current.set(scope)
    val result = try body(scope) catch {
      case t: Throwable =>
        scope.close(Nil)
        throw t
    } finally current.set(scope.parent)
    scope.close(result match {
      case ds: Dataset[_] => Seq(ds)
      case p: Product if !p.isInstanceOf[Iterable[_]] =>
        p.productIterator.collect { case ds: Dataset[_] => ds }.toSeq
      case _ => Nil
    })
    result
  }

  /** `df.localCheckpoint()` (eager), owned by the innermost open
    * [[scoped]] call on this thread, if any. If the materialization
    * throws (a `raise_error` guard inside the plan, a failed task), the
    * half-built RDD Spark already registered is freed before the error
    * propagates. That RDD is found as a persisted RDD newer than the
    * call, so an RDD another driver thread persists during a failing
    * call is freed too. The eager form stays Spark's `Dataset` one:
    * observed metrics ride its SQL execution. */
  private[graft] def checkpoint(df: DataFrame): DataFrame =
    eager(current.get, df)

  /** `df.localCheckpoint(eager = false)`, owned as [[checkpoint]]'s:
    * the first action that reads the frame materializes it. */
  private[graft] def lazyCheckpoint(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(eager = false)
    Option(current.get).foreach(_.own(leafRdds(c)))
    c
  }

  /** `rdd.localCheckpoint()`, owned as [[checkpoint]]'s: the first
    * job over `rdd` materializes it. */
  private[graft] def lazyCheckpoint[T](rdd: RDD[T]): RDD[T] = {
    rdd.localCheckpoint()
    Option(current.get).foreach(_.own(Seq(rdd)))
    rdd
  }

  private def eager(owner: Scope, df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    // RDD ids only grow; reading no registry here keeps weakly held
    // garbage RDDs collectable
    val mark = sc.emptyRDD[Unit].id
    val c = try df.localCheckpoint() catch {
      case t: Throwable =>
        sc.getPersistentRDDs.filter(_._1 > mark).values.foreach(free)
        throw t
    }
    Option(owner).foreach(_.own(leafRdds(c)))
    c
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
    * build them inside one [[scoped]] call that returns the survivor. */
  def release(df: DataFrame): Unit =
    reachable(Seq(df)).values
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
