package graft.tools

/** Dev tool: print the formatted plan of ONE ktruss support peel
  * (trussRound) — the query-level explain hides the peels behind
  * RoundPin's eager materialization, so the round subplan (where the
  * support-test expression lives) is dumped directly here.
  * usage: runMain graft.tools.TrussPlan [sfDir] */
object TrussPlan {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val (allPairs, _, nNodes) = graft.operators.AnalyticsOps.allPairsGraph(spark, sfDir)
    val bcast = nNodes <= graft.Knobs.graphBroadcastMaxNodes(spark)
    println("========== trussRound (one support peel) ==========")
    graft.operators.AnalyticsOps.trussRound(
      allPairs.select(org.apache.spark.sql.functions.col("p1"),
        org.apache.spark.sql.functions.col("p2")), bcast)
      .explain("formatted")
    spark.stop(); sys.exit(0)
  }
}
