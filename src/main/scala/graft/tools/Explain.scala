package graft.tools

/** Dev tool: print formatted physical plans for named queries.
  * usage: runMain graft.tools.Explain <sfDir> q1,q2,... */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args(1).split(",").toSeq
      else Seq("agg_group", "join_broadcast", "scan_parquet", "limit_n")
    // SPARK_GRAFT_CONF=k=v;k=v sets session confs before planning (e.g.
    // spark.graft.dedup.forceCollapse=true to print a gated query's
    // collapse-branch plan on a dup-free corpus)
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names) {
      println(s"\n========== $n ==========")
      graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop(); sys.exit(0)
  }
}
