package graft
/** Plan-audit tool: EXECUTES selected queries (all by default) and
  * prints the FINAL adaptive physical plan plus a one-line join/shuffle
  * audit, so the per-round manual review — did every dimension join
  * broadcast, did anything degrade to a nested-loop, how many
  * exchanges, how wide are the codegen spans — is a tool run instead
  * of an eyeball pass over explain() output. The frame's own
  * queryExecution is driven via collect() (count() would execute a
  * different, wrapping queryExecution and leave this one unplanned —
  * same trap BloomSamplingSpec documents), so what prints is the plan
  * AQE actually chose at runtime, not the static estimate. Usage:
  *   runMain graft.Explain [sfDir] [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val wanted = args.drop(1).toSet
    val spark = Session.local(logLevel = "ERROR")()
    var failed = false
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || wanted.contains(n) }
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try {
          val df = fn(spark, sfDir)
          df.collect()
          val plan = df.queryExecution.executedPlan.toString
          // AQE renders "== Final Plan ==" then "== Initial Plan ==";
          // audit only what actually ran.
          val finalPlan = plan.linesIterator
            .takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
          def count(marker: String): Int =
            finalPlan.sliding(marker.length).count(_ == marker)
          val broadcastJoins = count("BroadcastHashJoin")
          val sortMerge = count("SortMergeJoin")
          val shuffledHash = count("ShuffledHashJoin")
          val nestedLoop = count("BroadcastNestedLoopJoin")
          val cartesian = count("CartesianProduct")
          val broadcastEx = count("BroadcastExchange")
          val shuffleEx = count("Exchange hashpartitioning") +
            count("Exchange rangepartitioning") +
            count("Exchange SinglePartition")
          // tree string marks codegen'd operators "*(id) Op"; distinct
          // ids = span count
          val codegen = raw"\*\((\d+)\)".r
            .findAllMatchIn(finalPlan).map(_.group(1)).toSet.size
          val verdict =
            if (nestedLoop + cartesian > 0) "WARN non-equi/cartesian join present"
            else "OK"
          println(finalPlan)
          println(s"[audit] joins: broadcast=$broadcastJoins " +
            s"sort_merge=$sortMerge shuffled_hash=$shuffledHash " +
            s"nested_loop=$nestedLoop cartesian=$cartesian | " +
            s"exchanges: shuffle=$shuffleEx broadcast=$broadcastEx | " +
            s"codegen_spans=$codegen | $verdict")
        } catch {
          case e: Throwable => failed = true; println(s"EXPLAIN FAILED: $e")
        }
      }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
