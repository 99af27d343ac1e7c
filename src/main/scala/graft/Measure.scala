package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The one timer: Bench's sweep and ISOLATED reruns, Profile, ScaleProbe
  * and the untimed warm block's itemization all take their seconds here,
  * so every figure they print is measured the same way. */
object Measure {

  /** Wall seconds of `body` and whether it returned. A throw is printed
    * to stderr as `[tag] label failed: …` and yields ok = false with the
    * time to failure, so one failing step never aborts its caller's loop. */
  def timed(tag: String, label: String)(body: => Unit): (Double, Boolean) = {
    val t0 = System.nanoTime()
    val ok = try { body; true } catch { case e: Throwable =>
      System.err.println(s"[$tag] $label failed: ${e.getMessage}")
      false
    }
    ((System.nanoTime() - t0) / 1e9, ok)
  }

  /** Seconds and ok flag of `.count()` over registered query `name` on
    * `dir`. Afterwards — outside the clock — every persisted frame is
    * dropped, so each query pays its own cache builds inside its own
    * timing and nothing it cached taxes the queries after it. */
  def count(spark: SparkSession, dir: String, name: String): (Double, Boolean) = {
    val r = timed("measure", name)(SparkEntry.queries(name)(spark, dir).count())
    spark.catalog.clearCache()
    r
  }

  /** Janino compiles so far in this JVM and their summed seconds: the
    * misses of Spark's codegen cache, counted on the driver and on the
    * local executor threads alike. Take the difference around a block. */
  def codegen(): (Long, Double) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e9)
}
