package graft.tools

/** Dev profiling: run named queries (or all) N times in-session to separate
  * JIT/codegen warmup from steady-state cost. SPARK_GRAFT_CONF=k=v;k=v sets
  * session confs for an A/B.
  * usage: runMain graft.tools.Profile <sfDir> <repeat> [q1,q2,...] */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val repeat = if (args.length > 1) args(1).toInt else 2
    val names = if (args.length > 2) args(2).split(",").toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.ArtifactCache.warmAll(spark, sfDir)
    spark.catalog.clearCache()
    for (name <- names) {
      val times = (1 to repeat).map(_ => graft.Measure.count(spark, sfDir, name))
      println(f"$name%-24s ${times.map { case (t, ok) => if (ok) f"$t%6.2f" else "FAILED" }.mkString(" ")}")
    }
    spark.stop()
    sys.exit(0)
  }
}
