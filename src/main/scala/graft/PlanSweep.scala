package graft

/** Plan-audit sweep: per-query physical-operator census over the whole
  * catalog to spot scale hazards — cartesian products, unexpected global
  * sorts, missed broadcasts. Round-2 audit: zero CartesianProduct;
  * BroadcastNestedLoopJoin only for broadcast query vectors
  * (q37/q40/q90) / broadcast centroids (q72/q93 — q93 shows 3: the
  * assignment subtree is referenced thrice and its identical Exchanges
  * reuse at runtime; q105 shows 2: IVF routing + query probes, both
  * against the 16-row centroid table) and 1-row scalar-subquery or
  * bounds joins (q95; q109 shows 3 — the 1-row corpus-total and
  * corpus-mean relations cross twice-referenced subtrees; q126/q128
  * cross a 1-row max-id/total; q125 shows 8 — it embeds the q37 AND
  * q40 subtrees, each referenced twice, whose broadcast query/centroid
  * crosses all reuse at runtime; round-7 additions: q137/q138/q146 cross the
  * 1-row corpus-total, and q142 shows 2 — the 16-row centroid cross in
  * the assignment and query-probe subtrees; the round-7 single-pass
  * rewrites cut q137 from 3 and q142 from 4 by sharing the position
  * aggregate / folding mining into one bounded-state groupBy);
  * SortMergeJoin only where both sides
  * are large (q50, q93's cluster-local pair join, q105's
  * reconstruction⋈lists, tpch_q04/q21; q110's static plan SMJs the
  * edge⋈degree joins — post-aggregate stats are unknown at plan time,
  * AQE converts the node-cardinality sides to broadcast at runtime);
  * each
  * query's single final Sort is the
  * small result-set ordering the driver compare requires.
  * Usage: runMain graft.PlanSweep [sfDir] [namePrefix,namePrefix,...]
  */
object PlanSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val prefixes = if (args.length > 1) args(1).split(",").toSeq else Seq("")
    val spark = Session.local(Session.cpus)
    val interesting = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
      "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin", "Sort ",
      "TakeOrderedAndProject", "Exchange", "WindowGroupLimit")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!name.startsWith("nx_") && !name.startsWith("mm_") &&
          prefixes.exists(name.startsWith)) {
        try {
          val p = fn(spark, sfDir).queryExecution.executedPlan.toString
          val census = interesting.map(op =>
            op.trim -> op.r.findAllIn(p).length).filter(_._2 > 0)
          println(s"[sweep] $name :: ${census.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
        } catch { case e: Throwable =>
          println(s"[sweep] $name :: ERROR ${e.getMessage.take(80)}")
        }
      }
    }
    spark.stop()
  }
}
