package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.commons.math3.special.Beta

import org.apache.spark.sql.SparkSession

import graft.{ArtifactCache, SparkEntry}
import Stats.{median, percentile}

/** One execution of a workload member. `seconds` is its latency: registry
  * lookup, bank build, full-result action and cache clear. */
final case class Exec(name: String, pass: Int, span: Span, ok: Boolean, detail: String) {
  def seconds: Double = span.seconds
}

object Run {
  /** The timed passes: one per `PassSeconds` of `--seconds`, at least
    * `MinPasses`. The count depends on `--seconds` only, never on the
    * machine's speed, so every run of a workload does the same work and
    * leaves the same heap. */
  val PassSeconds = 4.0
  val MinPasses = 3

  def timedPasses(seconds: Double): Int =
    math.max(MinPasses, math.round(seconds / PassSeconds).toInt)
}

/** One benchmark run: set up, time closed-loop passes, check, report. */
final case class Run(o: Main.Opts) {
  private val tracer = new Tracer
  private val workload = Workloads(o.workload)
  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
  private val golden: Map[String, Fp] =
    if (o.golden.isEmpty) Map.empty
    else Files.readAllLines(Paths.get(o.golden)).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, fp) = l.split("\\s+"); n -> Fp.parse(fp) }.toMap
  private var spark: SparkSession = _
  private val listeners = new Listeners

  /** Execute one member: queries(name) → build → fingerprint → clear. */
  private def execute(name: String, pass: Int): Exec = {
    var ok = false
    var detail = ""
    val span = tracer.span(name, "execution") { s =>
      s.attrs("pass") = pass
      try {
        if (name == Pipeline.Name) {
          // the collection is the job's output, not engine scratch: it goes
          // in the run directory, outside the measured temp dir
          val out = Paths.get(Pipeline.Name).toAbsolutePath.toString
          val r = Pipeline.run(spark, Pipeline.Rows, out, tracer)
          ok = r.ok
          detail = r.detail
        } else {
          val fn = tracer.span("registry", "phase")(_ => SparkEntry.queries(name))
          val df = tracer.span("build", "phase")(_ => fn(spark, o.data))
          val fp = tracer.span("action", "phase") { a =>
            val fp = Fingerprint.of(df)
            df.queryExecution.tracker.phases.foreach { case (phase, p) =>
              a.attrs(phase) = p.durationMs
            }
            fp
          }
          golden.get(name) match {
            case Some(g) => ok = g == fp; detail = if (ok) fp.toString else s"got $fp want $g"
            case None => detail = s"got $fp, no golden fingerprint"
          }
        }
      } catch { case e: Throwable =>
        detail = s"threw ${e.toString.take(300)}"
      } finally tracer.span("clear", "phase")(_ => spark.catalog.clearCache())
      s
    }
    if (!ok) System.err.println(s"[perfbench] FAILED $name (pass $pass): $detail")
    Exec(name, pass, span, ok, detail)
  }

  def main(): Unit = {
    val runSpan = tracer.start("run", "run")
    val sessionSpan = tracer.span("session", "setup") { s =>
      spark = Main.session(o)
      // the listeners only attribute events for the trace; untraced runs
      // time the engine without them
      if (o.trace) {
        spark.sparkContext.addSparkListener(listeners)
        spark.streams.addListener(listeners.streams)
      }
      s
    }
    // set-up: one untimed, checked pass in name order stages the
    // fixtures, builds the shared artifacts and compiles the code paths
    // the timed passes use; the seeded JIT-warm passes after it let the
    // compilers catch up
    val (warm, warmExecs) = tracer.span("warm pass", "setup") { s =>
      (s, workload.members.sorted.map(execute(_, -1)))
    }
    val (jitWarm, jitWarmExecs) = tracer.span("jit warm", "setup") { s =>
      (s, (0 until workload.warmPasses).flatMap(p => workload.order(o.seed, p).map(execute(_, p))))
    }
    val setupExecs = warmExecs ++ jitWarmExecs
    val setupFailed = setupExecs.count(!_.ok)
    val setupS = sessionSpan.seconds + warm.seconds + jitWarm.seconds

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
    val jit = ManagementFactory.getCompilationMXBean
    val (gc0, jit0) = (gcMs, jit.getTotalCompilationTime)

    val execs = mutable.ArrayBuffer.empty[Exec]
    // (pass span, process CPU seconds of the pass over every JVM thread)
    val passes = mutable.ArrayBuffer.empty[(Span, Double)]
    for (pass <- workload.warmPasses until workload.warmPasses + Run.timedPasses(o.seconds)) {
      val cpu0 = Main.processCpuNs()
      val ps = tracer.span(s"pass $pass", "pass") { s =>
        workload.order(o.seed, pass).foreach(n => execs += execute(n, pass))
        s
      }
      passes += ((ps, (Main.processCpuNs() - cpu0) / 1e9))
    }
    val (gc1, jit1) = (gcMs, jit.getTotalCompilationTime)

    // what the passes leave on the heap once every artifact and cached
    // frame is released; the pauses let Spark's ContextCleaner drop the
    // broadcasts and shuffles whose references the collections clear
    ArtifactCache.evictAllCaches()
    spark.catalog.clearCache()
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    // stopping drains the listener bus, so every event is in before the
    // per-layer attribution below
    spark.stop()
    val diskMb = Main.dirBytes(tmp) / 1048576.0
    tracer.end(runSpan)

    val wallS = execs.groupBy(_.name).values.map(es => median(es.map(_.seconds).toSeq)).sum
    val e2e = Seq(
      "setup_s" -> setupS,
      "wall_s" -> wallS,
      "cpu_s" -> passes.map(_._2).sum / passes.size,
      "heap_retained_mb" -> heapMb,
      "disk_left_mb" -> diskMb)
    val layers = if (o.trace) perLayer(sessionSpan, warm, jitWarm, execs.toSeq, passes.size,
      (gc1 - gc0) / 1000.0 / passes.size, (jit1 - jit0) / 1000.0 / passes.size)
      else Map.empty[String, Double]
    val failed = execs.filterNot(_.ok)
    val result = Json.obj(
      "workload" -> o.workload,
      "seed" -> o.seed,
      "passes" -> passes.size,
      "attempted" -> execs.size,
      "failed" -> failed.size,
      "setup_failed" -> setupFailed,
      "failures" -> (setupExecs.filterNot(_.ok) ++ failed)
        .map(e => s"${e.name} (pass ${e.pass}): ${e.detail}").distinct,
      "setup_steps_s" -> Seq(sessionSpan.seconds, warm.seconds, jitWarm.seconds),
      "jit_warm_pass_s" -> jitWarmExecs.groupBy(_.pass).toSeq.sortBy(_._1)
        .map(_._2.map(_.seconds).sum),
      "pass_s" -> passes.map(_._1.seconds),
      "pass_cpu_s" -> passes.map(_._2),
      "executions" -> execs.map(e => Json.Raw(Json.obj("name" -> e.name, "pass" -> e.pass,
        "seconds" -> e.seconds, "ok" -> e.ok))),
      "metrics" -> Json.Raw(Json.obj(e2e: _*)),
      "per_layer" -> Json.Raw(Json.obj(layers.toSeq.sortBy(_._1): _*)))
    Files.writeString(Paths.get(o.out), result + "\n")
    if (o.trace && o.traceOut.nonEmpty) writeTrace(execs.toSeq, layers)
  }

  private def spanKids(s: Span, name: String): Seq[Span] =
    tracer.children(s).filter(_.name == name)

  private def isStream(e: Exec): Boolean =
    Workloads.bankOf(e.name).startsWith("streaming.") || e.name.startsWith("stream_")

  /** Per-layer metrics of the timed passes, per pass. */
  private def perLayer(session: Span, warm: Span, jitWarm: Span, execs: Seq[Exec], passes: Int,
      jvmGcS: Double, jvmJitS: Double): Map[String, Double] = {
    val l = listeners
    def perPass(x: Double): Double = x / passes
    val spans = execs.map(_.span)
    val phases = spans.flatMap(spanKids(_, "action"))
    def phase(n: String): Double = perPass(phases.map(_.attrs.getOrElse(n, 0L)
      .asInstanceOf[Long]).sum / 1000.0)
    val tasks = spans.flatMap(l.tasksIn)
    val mb = 1048576.0
    val streamExecs = execs.filter(isStream)
    val batches = streamExecs.flatMap(e => l.batchesIn(e.span))
    val pipes = execs.filter(_.name == Pipeline.Name).map(_.span)
    // the bank calls of the warm pass: fixture staging, artifact builds
    // and eager pins happen there first
    val warmBuilds = tracer.children(warm).flatMap(spanKids(_, "build"))
    def pipe(n: String): Double =
      median(pipes.flatMap(spanKids(_, n)).map(_.seconds))
    val lat = execs.map(_.seconds)
    Map(
      "query.p50_s" -> percentile(lat, 0.5),
      "query.p90_s" -> percentile(lat, 0.9),
      "registry.lookup_s" -> perPass(spans.flatMap(spanKids(_, "registry")).map(_.seconds).sum),
      "bank.build_s" -> perPass(spans.flatMap(spanKids(_, "build")).map(_.seconds).sum),
      "bank.build_jobs" -> perPass(spans.flatMap(spanKids(_, "build")).map(l.jobsIn).sum.toDouble),
      "planner.analysis_s" -> phase("analysis"),
      "planner.optimization_s" -> phase("optimization"),
      "planner.planning_s" -> phase("planning"),
      "scheduler.jobs" -> perPass(spans.map(l.jobsIn).sum.toDouble),
      "scheduler.stages" -> perPass(spans.map(l.stagesIn).sum.toDouble),
      "scheduler.tasks" -> perPass(tasks.size.toDouble),
      "scheduler.uncovered_s" -> perPass(spans.map(l.uncoveredMs).sum / 1000.0),
      "executor.task_s" -> perPass(tasks.map(_.runMs).sum / 1000.0),
      "executor.cpu_s" -> perPass(tasks.map(_.cpuNs).sum / 1e9),
      "executor.gc_s" -> perPass(tasks.map(_.gcMs).sum / 1000.0),
      "executor.shuffle_read_mb" -> perPass(tasks.map(_.shuffleRead).sum / mb),
      "executor.shuffle_write_mb" -> perPass(tasks.map(_.shuffleWrite).sum / mb),
      "executor.spill_mb" -> perPass(tasks.map(_.spill).sum / mb),
      "executor.input_mb" -> perPass(tasks.map(_.input).sum / mb),
      "executor.output_mb" -> perPass(tasks.map(_.output).sum / mb),
      "streaming.batches" -> perPass(batches.size.toDouble),
      "streaming.batch_ms_p50" -> median(batches.map(_.triggerMs.toDouble)),
      "streaming.commit_ms" -> perPass(batches.map(_.commitMs).sum.toDouble),
      "streaming.visible_frac" -> (if (streamExecs.isEmpty) 0.0
        else streamExecs.count(e => l.batchesIn(e.span).nonEmpty).toDouble / streamExecs.size),
      "sources.extract_s" -> pipe("extract"),
      "sources.load_s" -> pipe("load"),
      "sources.readback_s" -> pipe("readback"),
      "sources.connector_rec_per_s" -> (if (pipes.isEmpty) 0.0
        else Pipeline.Rows / median(pipes.map(_.seconds))),
      "setup.session_s" -> session.seconds,
      "setup.build_s" -> warmBuilds.map(_.seconds).sum,
      "setup.build_jobs" -> warmBuilds.map(l.jobsIn).sum.toDouble,
      "setup.warm_pass_s" -> warm.seconds,
      "setup.jit_warm_s" -> jitWarm.seconds,
      "jvm.gc_s" -> jvmGcS,
      "jvm.jit_s" -> jvmJitS)
  }

  /** Spans (with self times) and the per-module breakdown, as JSON lines. */
  private def writeTrace(execs: Seq[Exec], layers: Map[String, Double]): Unit = {
    val l = listeners
    val spanLines = tracer.spans.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "kind" -> s.kind, "start_ms" -> s.startMs, "seconds" -> s.seconds,
        "self_seconds" -> tracer.selfSeconds(s)) ++
        (if (s.kind == "execution") Seq("jobs" -> l.jobsIn(s),
          "tasks" -> l.tasksIn(s).size, "uncovered_s" -> l.uncoveredMs(s) / 1000.0)
          else Nil) ++
        s.attrs.toSeq.map { case (k, v) => k -> v }: _*)
    }
    val modules = execs.groupBy(e => Workloads.bankOf(e.name)).toSeq.sortBy(_._1).map {
      case (bank, es) =>
        val tasks = es.flatMap(e => l.tasksIn(e.span))
        Json.obj("module" -> bank, "executions" -> es.size,
          "latency_s" -> es.map(_.seconds).sum,
          "build_s" -> es.flatMap(e => spanKids(e.span, "build")).map(_.seconds).sum,
          "action_s" -> es.flatMap(e => spanKids(e.span, "action")).map(_.seconds).sum,
          "jobs" -> es.map(e => l.jobsIn(e.span)).sum,
          "tasks" -> tasks.size,
          "executor_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
          "uncovered_s" -> es.map(e => l.uncoveredMs(e.span)).sum / 1000.0)
    }
    val out = (spanLines ++ modules :+ Json.obj("per_layer" -> Json.Raw(
      Json.obj(layers.toSeq.sortBy(_._1): _*)))).mkString("", "\n", "\n")
    Files.writeString(Paths.get(o.traceOut), out)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The Harrell-Davis estimate of the `q` quantile: a weighted mean of
    * every order statistic, the i-th of n weighted by the mass that
    * Beta((n+1)q, (n+1)(1-q)) puts on [(i-1)/n, i/n]. Over a few dozen
    * executions of a few members it moves smoothly, where a single rank
    * jumps from one member's latency to the next. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val n = s.size
    def cdf(i: Int): Double = Beta.regularizedBeta(i.toDouble / n, (n + 1) * q, (n + 1) * (1 - q))
    s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
  }
}

/** Just enough JSON writing for the result and the trace. */
object Json {
  final case class Raw(s: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(String.valueOf(other))
  }

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
