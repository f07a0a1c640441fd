package graft.tools

/** Print the executed physical plan of the named queries (comma list in
  * GRAFT_ONLY; every query when unset) against SPARK_GRAFT_SF_DIR — the
  * plan-audit companion to [[Profile]]: run the query once (so AQE
  * finalizes), then dump the adaptive plan for shuffle/pushdown/broadcast
  * and codegen inspection. The session is the product config, so these
  * are the plans the component runs. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val only = sys.env.get("GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val unknown = only.getOrElse(Set.empty) -- graft.SparkEntry.queries.keySet
    require(unknown.isEmpty, s"GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
    val spark = graft.GraftSession.build(graft.GraftSession.devThreads)
    try {
      for (n <- graft.SparkEntry.queries.keys.toSeq.sorted
           if only.forall(_.contains(n))) {
        // benched variant when one exists (the plan the bench prices)
        val df = graft.SparkEntry.benchQueries
          .getOrElse(n, graft.SparkEntry.queries(n))(spark, sfDir)
        df.queryExecution.toRdd.foreachPartition(_ => ())
        println(s"==== $n ====")
        println(df.queryExecution.executedPlan.toString)
      }
    } finally spark.stop()
  }
}
