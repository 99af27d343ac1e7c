package graft

/** Generated code compiles once per JVM: every session, a clone or the
  * one Spark makes for each streaming query, shares one executor
  * classloader and so one entry of Spark's codegen cache per source
  * ([[Tuning]]). A second run of the same plan compiles nothing. */
class CodegenReuseSpec extends SparkSuite {

  private def compilesOf(body: => Unit): Long = {
    val before = Measure.codegen()._1
    body
    Measure.codegen()._1 - before
  }

  test("a query compiled on the parent session compiles nothing new on a clone") {
    // an inlined literal no other plan carries: the counter must see it
    val fresh = compilesOf(spark.range(3).selectExpr(s"id * ${System.nanoTime()} AS x").collect())
    assert(fresh > 0, "a never-seen plan compiled nothing: the counter is not wired")
    val run = (s: org.apache.spark.sql.SparkSession) =>
      SparkEntry.queries("agg_group")(s, sf).collect()
    run(spark)
    val clone = org.apache.spark.sql.graftbridge.Bridge.cloneSession(spark)
    val again = compilesOf(run(clone))
    assert(again === 0, s"the clone recompiled $again classes its parent had compiled")
  }

  test("stream_static_join run twice compiles nothing new the second time") {
    assert(Measure.count(spark, sf, "stream_static_join")._2)
    val again = compilesOf(assert(Measure.count(spark, sf, "stream_static_join")._2))
    assert(again === 0, s"the second run recompiled $again classes")
  }
}
