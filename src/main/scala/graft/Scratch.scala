package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.SparkFiles
import org.apache.spark.sql.SparkSession

/** Where scratch files live and how long they last, decided once.
  *
  * Every staged fixture, stream checkpoint, replay store, upsert target and
  * sink output lives under the running SparkContext's own temp dir,
  * `SparkFiles.getRootDirectory()` =
  * `<spark.local.dir>/spark-<uuid>/userFiles-<uuid>`:
  *  - the medium follows Spark's own `spark.local.dir` / `SPARK_LOCAL_DIRS`;
  *  - Spark deletes the root recursively in `spark.stop()` (SparkEnv.stop)
  *    and in its shutdown hook at JVM exit, so nothing outlives the context;
  *    the delete does not follow symlinks, so the staged events link never
  *    reaches the sf dir it points into;
  *  - the root is per context: two JVMs (or two contexts one after the
  *    other) never share it, so one can never read another's half-written
  *    fixture, and no per-process suffix is needed.
  *
  * Fixtures are staged once per (context, sf dir) and reused; per-invocation
  * state takes a [[fresh]] dir and deletes it itself.
  */
object Scratch {

  /** The scratch root of `s`'s context. Fails if that context is stopped:
    * Spark's fallback root is the working directory, which nothing cleans. */
  def root(s: SparkSession): Path = {
    val r = if (s.sparkContext.isStopped) "." else SparkFiles.getRootDirectory()
    if (r == ".") throw new IllegalStateException(
      "no active SparkContext: scratch lives in the context's temp dir")
    Paths.get(r)
  }

  /** `root/name`; not created, so a writer may create it in any save mode. */
  def path(s: SparkSession, name: String): Path = root(s).resolve(name)

  /** The fixture dir `name` staged from `sfDir`: one per (context, sf dir). */
  def fixture(s: SparkSession, name: String, sfDir: String): Path =
    path(s, s"${name}_${Tables.pathTag(sfDir)}")

  /** A new, uniquely named dir for one invocation's state. */
  def fresh(s: SparkSession, prefix: String): Path =
    Files.createTempDirectory(root(s), prefix)
}
