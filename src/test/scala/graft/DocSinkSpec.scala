package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** The DSv2 DocSink commit protocol (sources/DocSink.scala): task
  * staging, publish-then-manifest commit, deferred truncation, abort
  * hygiene, JSON escaping, plan-time type gate. */
class DocSinkSpec extends SparkSuite {

  private def freshDir(tag: String): String = {
    val p = Scratch.fresh(spark, s"docsink_$tag")
    p.toString
  }

  private def visibleFiles(dir: String): Seq[String] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return Nil
    val s = Files.list(d)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  test("round-trip: rows written through the sink read back exactly") {
    val dir = freshDir("rt")
    import spark.implicits._
    val df = Seq((1L, "aé\"b\nc\t\\d", 3.5), (2L, "plain", -0.25))
      .toDF("id", "s", "v")
    df.write.format("graft.sources.DocSink").mode(SaveMode.Overwrite)
      .option("path", dir).save()
    val back = spark.read.schema("id BIGINT, s STRING, v DOUBLE")
      .json(s"$dir/*.jsonl").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(back === Set((1L, "aé\"b\nc\t\\d", 3.5), (2L, "plain", -0.25)))
    assert(visibleFiles(dir).contains("_DOC_MANIFEST"))
    assert(!visibleFiles(dir).contains("_staging"), "staging must be swept after commit")
  }

  test("manifest accounts for every published file and the exact row count") {
    val dir = freshDir("mf")
    spark.range(0, 100, 1, 4).selectExpr("id", "CAST(id AS STRING) AS s")
      .write.format("graft.sources.DocSink").mode(SaveMode.Overwrite)
      .option("path", dir).save()
    val lines = Files.readAllLines(Paths.get(dir, "_DOC_MANIFEST")).asScala
    val published = visibleFiles(dir).filter(_.endsWith(".jsonl"))
    assert(lines.last === "total\t100")
    assert(lines.init.map(_.split("\t")(0)).sorted === published)
    assert(lines.init.map(_.split("\t")(1).toLong).sum === 100L)
  }

  test("overwrite truncation is deferred: a failed job leaves v1 intact") {
    val dir = freshDir("fail")
    import spark.implicits._
    Seq((1L, "keep")).toDF("id", "s")
      .write.format("graft.sources.DocSink").mode(SaveMode.Overwrite)
      .option("path", dir).save()
    val v1 = visibleFiles(dir)
    val boom = udf((x: Long) => {
      if (x > 50) throw new RuntimeException("injected task failure"); x
    })
    intercept[Exception] {
      spark.range(0, 100, 1, 4).select(boom(col("id")).as("id"))
        .write.format("graft.sources.DocSink").mode(SaveMode.Overwrite)
        .option("path", dir).save()
    }
    assert(visibleFiles(dir) === v1, "failed overwrite must not disturb v1")
    val back = spark.read.schema("id BIGINT, s STRING").json(s"$dir/*.jsonl").collect()
    assert(back.length === 1 && back(0).getString(1) === "keep")
  }

  test("writer abort deletes its staging file; nothing becomes visible") {
    val dir = freshDir("abort")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT")
    val w = new sources.DocSinkWriterFactory(dir, schema).createWriter(0, 0L)
    w.write(org.apache.spark.sql.catalyst.InternalRow(7L))
    w.abort()
    assert(visibleFiles(dir) === Seq("_staging") ||
      visibleFiles(dir).isEmpty) // dir may keep the empty staging folder
    val st = Paths.get(dir, "_staging")
    if (Files.isDirectory(st)) {
      val s = Files.list(st)
      try assert(!s.iterator().hasNext, "aborted staging file must be deleted")
      finally s.close()
    }
  }

  test("unsupported column type fails at plan time, not per-row") {
    val dir = freshDir("typegate")
    import spark.implicits._
    val df = Seq((1L, Array[Byte](1, 2))).toDF("id", "blob")
    val e = intercept[Exception] {
      df.write.format("graft.sources.DocSink").mode(SaveMode.Overwrite)
        .option("path", dir).save()
    }
    assert(e.getMessage.contains("does not support type") ||
      Option(e.getCause).exists(_.getMessage.contains("does not support type")))
    assert(!visibleFiles(dir).exists(_.endsWith(".jsonl")))
  }

  test("streaming write: epoch commits survive a checkpoint restart exactly once") {
    import spark.implicits._
    val root = Scratch.fresh(spark, "docsink_stream")
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    val ckpt = root.resolve("ckpt").toString
    val outDir = root.resolve("out").toString
    def stage(name: String, vals: Seq[Long]): Unit = {
      val tmp = root.resolve(s"stage_$name")
      vals.toDF("v").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = Files.list(tmp)
      val part = try listing.filter(_.toString.endsWith(".parquet")).findFirst().get
        finally listing.close()
      Files.move(part, srcDir.resolve(name))
    }
    def runOnce(): Unit = {
      val q = spark.readStream.schema("v LONG").parquet(srcDir.toString)
        .writeStream.format("graft.sources.DocSink").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    stage("f1.parquet", Seq(1L, 2L, 3L))
    runOnce()
    stage("f2.parquet", Seq(4L, 5L))
    runOnce() // restart from the checkpoint: must publish ONLY f2's rows
    val back = spark.read.schema("v BIGINT").json(s"$outDir/*.jsonl")
      .as[Long].collect().sorted
    assert(back.toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    assert(visibleFiles(outDir).count(_.startsWith("_DOC_MANIFEST_e")) >= 2,
      s"per-epoch manifests expected, saw ${visibleFiles(outDir)}")
  }

  test("streaming epoch replay is a no-op: existing manifest blocks re-publish") {
    val dir = freshDir("replay")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT")
    val sw = new sources.DocSinkStreamingWrite(dir, schema)
    def staged(task: Long): org.apache.spark.sql.connector.write.WriterCommitMessage = {
      val w = new sources.DocSinkWriter(dir, schema, 0, task, "e7-")
      w.write(org.apache.spark.sql.catalyst.InternalRow(1L))
      w.commit()
    }
    sw.commit(7L, Array(staged(0L)))
    val published = visibleFiles(dir)
    assert(published.exists(_.endsWith(".jsonl")) &&
      published.contains("_DOC_MANIFEST_e7"))
    // replayed epoch after a restart: a re-run task staged the same data
    sw.commit(7L, Array(staged(1L)))
    assert(visibleFiles(dir) === published, "replay must publish nothing new")
  }

  test("sink_dsv2 query: collection contents equal the source projection") {
    val n = q("sink_dsv2").collect()
    val exp = graft.Tables.t(spark, sf, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n.map(r => r.getString(0) -> r.getLong(1)).toMap === exp)
  }
}
