package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBus
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** The parquet schema memo behind [[Tables.t]]: a table read infers its
  * schema once per file version and session parquet confs. */
class TablesSpec extends SparkSuite {

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    sc.addSparkListener(l)
    try { body; ListenerBus.drain(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  /** Write `df` as the single parquet file `file`. */
  private def writeFile(df: org.apache.spark.sql.DataFrame, file: Path): Unit = {
    val part = file.resolveSibling(s"_part_${file.getFileName}")
    df.coalesce(1).write.mode("overwrite").parquet(part.toString)
    val l = Files.list(part)
    val f = try l.iterator.asScala.find(_.toString.endsWith(".parquet")).get finally l.close()
    Files.move(f, file, StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteQuietly(part.toFile)
  }

  private def tableNames: Seq[String] = {
    val l = Files.list(Paths.get(sf))
    try l.iterator.asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).toVector.sorted
    finally l.close()
  }

  test("a second Tables.t of the same table runs no Spark job") {
    val dir = Scratch.fresh(spark, "schema_memo_")
    Files.copy(Paths.get(Tables.path(sf, "region")), Paths.get(Tables.path(dir.toString, "region")))
    assert(jobsDuring(Tables.t(spark, dir.toString, "region")) >= 1,
      "the first read of a new file version infers its schema")
    assert(jobsDuring(Tables.t(spark, dir.toString, "region")) === 0)
    Tables.events(spark, sf)
    assert(jobsDuring(Tables.events(spark, sf)) === 0)
    Tables.t(spark, sf, "orders")
    assert(jobsDuring(Tables.t(spark, sf, "orders").schema) === 0)
  }

  test("for every sf table the memoized schema and plan equal Spark's own inference, metadata included") {
    val names = tableNames
    assert(names.size === 10, names)
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.optimizedPlan.toString.replaceAll("#\\d+L?", "")
    names.foreach { n =>
      val inferred = spark.read.parquet(Tables.path(sf, n))
      val memo = Tables.t(spark, sf, n)
      assert(memo.schema === inferred.schema, n)
      assert(memo.schema.json === inferred.schema.json, n)
      assert(plan(memo) === plan(inferred), n)
      assert(memo.count() === inferred.count(), n)
    }
  }

  test("rewriting a file misses the memo, and so does adding a part file to a directory") {
    val dir = Scratch.fresh(spark, "schema_versions_")
    val file = Paths.get(Tables.path(dir.toString, "t"))
    val base = spark.range(4).select(col("id").as("k"))
    writeFile(base, file)
    assert(Tables.t(spark, dir.toString, "t").columns.toSeq === Seq("k"))
    writeFile(base.withColumn("v", col("k") * 2), file)
    assert(jobsDuring(Tables.t(spark, dir.toString, "t")) >= 1)
    assert(Tables.t(spark, dir.toString, "t").columns.toSeq === Seq("k", "v"))

    val parts = Paths.get(Tables.path(dir.toString, "p"))
    base.coalesce(1).write.parquet(parts.toString)
    assert(jobsDuring(Tables.t(spark, dir.toString, "p")) >= 1)
    assert(jobsDuring(Tables.t(spark, dir.toString, "p")) === 0)
    val l = Files.list(parts)
    val part = try l.iterator.asScala.find(_.getFileName.toString.startsWith("part-")).get
      finally l.close()
    Files.copy(part, parts.resolve("part-extra.parquet"))
    assert(jobsDuring(Tables.t(spark, dir.toString, "p")) >= 1)
    assert(Tables.t(spark, dir.toString, "p").count() === 8)
  }

  test("flipping nanosAsLong misses the memo: an ns ts is a LongType with it, and Spark refuses it without") {
    // Spark reads an INT64 TIMESTAMP(NANOS) column only as its raw Long,
    // under nanosAsLong; without it, inference fails. A memo that ignored
    // the conf would hand back the stale LongType instead of that failure.
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Scratch.fresh(spark, "ts_nanos_")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(Tables.path(dir.toString, "events")),
      spark.sparkContext.hadoopConfiguration)).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    def tsType = Tables.t(spark, dir.toString, "events").schema("ts").dataType
    try {
      spark.conf.set(key, "true")
      assert(tsType === LongType)
      spark.conf.set(key, "false")
      val e = intercept[org.apache.spark.sql.AnalysisException](tsType)
      assert(e.getCondition === "PARQUET_TYPE_ILLEGAL", e.getMessage)
      // the µs sf events file reads as a timestamp under either value
      assert(Tables.t(spark, sf, "events").schema("ts").dataType === TimestampNTZType)
      spark.conf.set(key, "true")
      assert(tsType === LongType)
      assert(Tables.t(spark, sf, "events").schema("ts").dataType === TimestampNTZType)
      assert(Tables.events(spark, dir.toString).select(unix_micros(col("ts"))).head.getLong(0)
        === 1700000000123456L)
    } finally spark.conf.set(key, "true")
  }

  test("no sf table is read with read.parquet outside Tables") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList
    assert(files.size > 50, s"source walk broke: ${files.size} files")
    // a table file named outright, or a read.parquet( of a path built from
    // the sf dir (the banks' `dir`, the helpers' `sfDir`) or Tables.path
    val tableFile = tableNames.map(n => s"$n.parquet\"") :+ "$name.parquet\""
    val sfRead = """read\.parquet\(([^)]*)""".r
    val sfArg = """\$\{?(dir|sfDir)\}?/|\bsfDir\b|Tables\.path|\.parquet"""".r
    val hits = for {
      p <- files if p.getFileName.toString != "Tables.scala"
      src = Files.readString(p)
      hit <- tableFile.filter(src.contains) ++
        sfRead.findAllMatchIn(src).map(_.group(1)).filter(a => sfArg.findFirstIn(a).isDefined)
    } yield s"$p: $hit"
    assert(hits.isEmpty, s"sf tables read outside graft.Tables: ${hits.mkString(", ")}")
  }
}
