package graft

/** Plan-inspection utility: prints `explain("formatted")` for the named
  * queries (or a representative default set) so scan pruning, pushed
  * filters, broadcast joins, and whole-stage-codegen spans can be audited.
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q_scan_project", "q_agg_multi", "q_join_inner",
        "q_basetable_star", "q_pivot_dummies", "q_topk")
    val spark = GraftSession.getOrCreate(4)
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
