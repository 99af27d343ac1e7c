package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{ArtifactCache, SparkEntry}

/** The benchmark runner. `run.py` builds it and starts it in a fresh JVM
  * per run; see NOTES.md for the workloads and metrics.
  *
  * Modes:
  *  - `run`: set up, then time closed-loop passes over one workload (one
  *    per 4 s of `--seconds`), check every execution, and write the
  *    metrics as JSON to `--out` (and, with `--trace 1`, the spans to
  *    `--trace-out`);
  *  - `golden`: execute every member of every workload twice and write the
  *    fingerprints (`name rows:hash` lines) to `--out`.
  */
object Main {

  final case class Opts(mode: String = "run", workload: String = "",
      seed: Long = 0L, seconds: Double = 10.0, trace: Boolean = false,
      data: String = "", out: String = "", traceOut: String = "",
      golden: String = "", cpus: Int = Runtime.getRuntime.availableProcessors())

  def parse(args: Seq[String], o: Opts = Opts()): Opts = args match {
    case Seq() => o
    case "--mode" +: v +: t => parse(t, o.copy(mode = v))
    case "--workload" +: v +: t => parse(t, o.copy(workload = v))
    case "--seed" +: v +: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" +: v +: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" +: v +: t => parse(t, o.copy(trace = v == "1"))
    case "--data" +: v +: t => parse(t, o.copy(data = v))
    case "--out" +: v +: t => parse(t, o.copy(out = v))
    case "--trace-out" +: v +: t => parse(t, o.copy(traceOut = v))
    case "--golden" +: v +: t => parse(t, o.copy(golden = v))
    case "--cpus" +: v +: t => parse(t, o.copy(cpus = v.toInt))
    case a +: _ => throw new IllegalArgumentException(s"unknown argument '$a'")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toSeq)
    val code = try {
      o.mode match {
        case "run" => Run(o).main()
        case "golden" => golden(o)
      }
      0
    } catch { case e: Throwable =>
      e.printStackTrace()
      1
    }
    // the REST stub and stream leftovers are non-daemon threads
    sys.exit(code)
  }

  /** The pinned session shape: local[cpus], one shuffle partition per
    * core, UTC, the engine's own `Tuning.tuned` defaults, Spark's scratch
    * under this run's temp dir. */
  def session(o: Opts): SparkSession = {
    val tmp = System.getProperty("java.io.tmpdir")
    val spark = graft.Tuning.tuned(SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(tmp, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(tmp, "warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def golden(o: Opts): Unit = {
    val spark = session(o)
    val lines = Workloads.all.flatMap(_.queries).distinct.sorted.map { name =>
      val fps = (1 to 2).map { _ =>
        val r = try Right(Fingerprint.of(SparkEntry.queries(name)(spark, o.data)))
          catch { case e: Throwable => Left(e.toString) }
        spark.catalog.clearCache()
        r
      }
      val line = fps match {
        case Seq(Right(a), Right(b)) if a == b => s"$name $a"
        case other => s"$name UNSTABLE ${other.mkString(" ")}"
      }
      System.err.println(line)
      line
    }
    ArtifactCache.evictAllCaches()
    spark.stop()
    Files.writeString(Paths.get(o.out), lines.mkString(
      "# <query> <rows>:<hash> of the full result at sf0.1, from two executions " +
        "in one JVM (perfbench/run.py --golden)\n", "\n", "\n"))
  }
}
