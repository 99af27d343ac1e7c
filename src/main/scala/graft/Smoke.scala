package graft

/** Local smoke: drives SparkEntry.entry the way the driver's t1 does
  * (rows>0 on sf0.001) and prints the result. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    df.show(20, truncate = false)
    println(s"entry rows=${df.count()}")
    spark.stop()
    sys.exit(0)
  }
}
