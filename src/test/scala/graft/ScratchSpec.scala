package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkFiles
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SparkDelete

/** One scratch root ([[Scratch]]): every staged fixture lives in the
  * context's temp dir, which Spark deletes at `spark.stop()`. */
class ScratchSpec extends SparkSuite {

  private def root: Path = Paths.get(SparkFiles.getRootDirectory())
  private def sha(p: Path): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(p)).map(b => f"$b%02x").mkString

  test("scratch location is decided in Scratch.scala only: no tmpdir, pid or scratchDir conf in src/main") {
    val needles = Seq("java.io.tmpdir", "ProcessHandle.current().pid()",
      "spark.graft.stream.scratchDir")
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList
    assert(files.size > 50, s"source walk broke: ${files.size} files")
    val hits = for {
      p <- files if p.getFileName.toString != "Scratch.scala"
      n <- needles if Files.readString(p).contains(n)
    } yield s"$p: $n"
    assert(hits.isEmpty, s"scratch decided outside graft.Scratch: ${hits.mkString(", ")}")
  }

  test("every staging entrypoint returns a path under the context's SparkFiles root") {
    def under(p: String): Boolean =
      Paths.get(p.stripPrefix("file:")).toAbsolutePath.normalize.startsWith(root)
    val fixtures = ArtifactCache.fixtures
    val names = fixtures.map(_.name)
    assert(names.size >= 18 && names.distinct.size === names.size,
      s"expected the 18+ declared fixtures, each once: ${names.mkString(", ")}")
    val staged = fixtures.map(f => f(spark, sf))
    val outside = staged.map(_.toString).filterNot(under)
    assert(outside.isEmpty, s"staged outside $root: ${outside.mkString(", ")}")
    val unmarked = staged.filterNot(p => Files.exists(p.resolve("_STAGED")))
    assert(unmarked.isEmpty, s"staged without a marker: ${unmarked.mkString(", ")}")
    val (oTbl, cTbl) = operators.ScaleOps.prepareBucketed(spark, sf)
    val tableDirs = Seq(oTbl, cTbl).map(t => spark.sql(s"DESCRIBE TABLE EXTENDED $t")
      .filter(col("col_name") === "Location").head.getString(1))
    assert(tableDirs.forall(under), tableDirs)
    val plan = org.apache.spark.sql.graftbridge.Bridge.analyzed(
      streaming.Streams.eventsStream(spark, sf)).toString
    val link = Scratch.fixture(spark, "events", sf).resolve("events.parquet")
    assert(under(link.toString) && Files.isSymbolicLink(link))
    assert(plan.contains(link.getParent.toString), plan)
  }

  test("whether a fixture is staged is decided in Fixture only: no _SUCCESS, _STAGED or tableExists check elsewhere in src/main") {
    val needles = Seq("\"_SUCCESS\"", "\"_STAGED\"", "tableExists")
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList
    assert(files.size > 50, s"source walk broke: ${files.size} files")
    val hits = for {
      p <- files if p.getFileName.toString != "Scratch.scala"
      n <- needles if Files.readString(p).contains(n)
    } yield s"$p: $n"
    assert(hits.isEmpty, s"staging decided outside graft.Fixture: ${hits.mkString(", ")}")
  }

  test("a fixture stages once, restages a dir that lost its marker, and its clear does not follow the events link") {
    val events = Paths.get(sf, "events.parquet")
    val before = sha(events)
    val f = streaming.Streams.stageEventsLink
    val dir = f(spark, sf)
    val n = f.stagings.get
    assert(f(spark, sf) === dir && f.stagings.get === n, "a marked fixture staged again")
    // a partial dir: the link is there, the marker is not
    Files.delete(dir.resolve("_STAGED"))
    assert(f(spark, sf) === dir && f.stagings.get === n + 1)
    assert(Files.isSymbolicLink(dir.resolve("events.parquet")))
    assert(Files.isRegularFile(events) && sha(events) === before)
  }

  test("Spark's recursive delete of the events staging dir leaves the sf events file intact") {
    val events = Paths.get(sf, "events.parquet")
    val before = sha(events)
    streaming.Streams.eventsStream(spark, sf)
    val dir = Scratch.fixture(spark, "events", sf)
    assert(Files.isSymbolicLink(dir.resolve("events.parquet")))
    SparkDelete.deleteRecursively(dir.toFile)
    assert(!Files.exists(dir))
    assert(Files.isRegularFile(events) && sha(events) === before)
    // the next stream restages the link
    streaming.Streams.eventsStream(spark, sf)
    assert(Files.isSymbolicLink(dir.resolve("events.parquet")))
  }

  test("eventsStream probes ts again when the events file is rewritten with another ts type") {
    val sfDir = Scratch.fresh(spark, "ts_retype_")
    val base = spark.range(5).select(col("id").as("event_id"),
      (lit(1700000000000000L) + col("id") * 1000000L).as("us"),
      (col("id") % 2).as("user_id"), lit("view").as("event_type"),
      col("id").cast("double").as("value"), lit("{}").as("props"))
    def write(ts: org.apache.spark.sql.Column): Unit = {
      val part = sfDir.resolve("_part")
      base.withColumn("ts", ts).drop("us").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(part.toString)
      val l = Files.list(part)
      val file = try l.iterator.asScala.find(_.toString.endsWith(".parquet")).get finally l.close()
      Files.move(file, sfDir.resolve("events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    def drain(name: String): Seq[(Long, Long)] = {
      streaming.Streams.drainToFrame(spark, streaming.Streams.eventsStream(spark, sfDir.toString)
        .select(col("event_id"), unix_micros(col("ts")).as("us")), name, "append")
        .orderBy("event_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val want = (0L until 5L).map(i => (i, 1700000000000000L + i * 1000000L))
    write(timestamp_micros(col("us")))
    assert(drain("ts_retype_micros") === want)
    write(col("us") * 1000L) // INT64 nanoseconds, the earlier generator's layout
    assert(drain("ts_retype_nanos") === want)
  }
}
