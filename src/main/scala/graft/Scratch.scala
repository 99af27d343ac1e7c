package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.commons.io.FileUtils
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
  * Fixtures are staged once per (context, sf dir) and reused, and every one
  * is declared as a [[Fixture]]: that is the one place that decides whether
  * a fixture is staged and stages it, and its declaration puts it in the
  * warm block ([[ArtifactCache.warmAll]]), so no timed query stages one.
  * Per-invocation state (sink outputs, upsert targets, checkpoints) is
  * written per call on purpose, into its own `path` or a [[fresh]] dir.
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

/** A staged fixture: the dir `Scratch.fixture(s, name, sfDir)` holding what
  * `write(s, sfDir, dir)` writes there. `f(s, sfDir)` returns the dir,
  * staging it first if its `_STAGED` marker is missing: single-flight, it
  * clears any partial dir, runs `write`, then writes the marker.
  *  - The marker on disk is the memo, not a map in memory: a dir deleted
  *    under a live context is staged again, and a new context has a new
  *    root, so it is never handed a stale path.
  *  - Every declaration registers with [[ArtifactCache]]'s warm registry,
  *    so the warm block stages it and no hand list can miss it.
  *  - Eviction leaves fixtures alone; they live as long as the context root.
  *  - The clear does not follow symlinks (the events fixture links into the
  *    sf dir), and Spark's readers skip the `_`-prefixed marker.
  */
final class Fixture private (val name: String,
    write: (SparkSession, String, Path) => Unit) extends ArtifactCache.Warmable {
  ArtifactCache.register(this)

  private[graft] def label: String = s"fixture $name"
  private[graft] val warmer: Option[(SparkSession, String) => Unit] =
    Some((s, sfDir) => { apply(s, sfDir); () })
  /** How many times this fixture was actually staged in this JVM. */
  private[graft] val stagings = new java.util.concurrent.atomic.AtomicInteger

  def apply(s: SparkSession, sfDir: String): Path = {
    val dir = Scratch.fixture(s, name, sfDir)
    val marker = dir.resolve("_STAGED")
    if (!Files.exists(marker)) synchronized {
      if (!Files.exists(marker)) ArtifactCache.bill(this) {
        FileUtils.deleteQuietly(dir.toFile)
        write(s, sfDir, dir)
        Files.createDirectories(dir)
        Files.createFile(marker)
        stagings.incrementAndGet()
      }
    }
    dir
  }
}

object Fixture {
  def apply(name: String)(write: (SparkSession, String, Path) => Unit): Fixture =
    new Fixture(name, write)
}
