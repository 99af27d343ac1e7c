package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import graft.streaming.LocalCheckpointFileManager

/** Streaming checkpoint files on the local file system are written through
  * java.nio ([[LocalCheckpointFileManager]], installed by [[Tuning]]), so a
  * micro-batch's offset and commit writes start no process, and the
  * manager keeps the contract `HDFSMetadataLog` and the state stores rely
  * on. StreamingSpec's restart and recovery tests run on it too. */
class CheckpointFilesSpec extends SparkSuite {

  private def withDir(body: NioPath => Unit): Unit = {
    val dir = Scratch.fresh(spark, "ckpt_spec_")
    try body(dir) finally FileUtils.deleteQuietly(dir.toFile)
  }

  private def manager(dir: NioPath): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir.toUri), spark.sessionState.newHadoopConf())

  private def write(fm: CheckpointFileManager, f: NioPath, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(new Path(f.toUri), overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, f: NioPath): String = {
    val in = fm.open(new Path(f.toUri))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: NioPath): Set[String] = {
    val l = Files.list(dir)
    try l.iterator.asScala.map(_.getFileName.toString).toSet finally l.close()
  }

  /** Process starts recorded while `body` runs whose stack passes through
    * a CheckpointFileManager class. */
  private def checkpointForks(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val dump = Scratch.fresh(spark, "ckpt_jfr_").resolve("rec.jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
          .exists(_.getMethod.getType.getName.contains("CheckpointFileManager"))))
        .map(_.getString("command"))
    } finally { rec.close(); FileUtils.deleteQuietly(dump.getParent.toFile) }
  }

  test("every session and clone resolves local checkpoints to the java.nio manager") {
    withDir { dir =>
      assert(manager(dir).isInstanceOf[LocalCheckpointFileManager])
      val clone = org.apache.spark.sql.graftbridge.Bridge.cloneSession(spark)
      assert(CheckpointFileManager.create(new Path(dir.toUri), clone.sessionState.newHadoopConf())
        .isInstanceOf[LocalCheckpointFileManager])
    }
  }

  test("stream_rest_ingest and stream_static_join start no process from a checkpoint write") {
    // the probe sees what Hadoop's local FileContext forks when no native
    // library is loaded, so an empty result below is not a blind recorder
    if (!NativeCodeLoader.isNativeCodeLoaded) withDir { dir =>
      val hadoop = new FileContextBasedCheckpointFileManager(
        new Path(dir.toUri), spark.sessionState.newHadoopConf())
      val seen = checkpointForks(write(hadoop, dir.resolve("0"), "v1", overwrite = false))
      assert(seen.nonEmpty, "no fork recorded from Hadoop's FileContext write: the probe is blind")
    }
    val forks = checkpointForks {
      // stream_static_join's complete-mode aggregation also commits state-store files
      Seq("stream_rest_ingest", "stream_static_join").foreach { n =>
        assert(Measure.count(spark, sf, n)._2, s"$n failed")
      }
    }
    assert(forks.isEmpty, s"${forks.size} checkpoint process starts, e.g. ${forks.distinct.take(3)}")
  }

  test("a no-clobber write onto an existing file throws FileAlreadyExistsException and keeps the old bytes") {
    withDir { dir =>
      val fm = manager(dir)
      val f = dir.resolve("0")
      write(fm, f, "old", overwrite = false)
      intercept[FileAlreadyExistsException](write(fm, f, "new", overwrite = false))
      assert(read(fm, f) === "old")
      assert(names(dir) === Set("0"), "the losing writer's temp file was left behind")
    }
  }

  test("an overwrite replaces the file and removes a stale .crc") {
    withDir { dir =>
      val f = dir.resolve("state")
      // Hadoop's checksummed local file system writes the `.state.crc` sibling
      val fs = FileSystem.getLocal(spark.sessionState.newHadoopConf())
      val out = fs.create(new Path(f.toUri), true)
      out.write("old bytes".getBytes(UTF_8))
      out.close()
      assert(Files.exists(dir.resolve(".state.crc")))
      val fm = manager(dir)
      write(fm, f, "new", overwrite = true)
      assert(read(fm, f) === "new")
      // a checksummed reader checks the new bytes against a stale .crc
      val in = fs.open(new Path(f.toUri))
      try assert(new String(in.readAllBytes(), UTF_8) === "new") finally in.close()
      assert(names(dir) === Set("state"))
    }
  }

  test("cancel() leaves no temp file, and mkdirs makes nested dirs") {
    withDir { dir =>
      val fm = manager(dir)
      val out = fm.createAtomic(new Path(dir.resolve("1").toUri), false)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      assert(names(dir).isEmpty)
      fm.mkdirs(new Path(dir.resolve("a/b/c").toUri))
      assert(Files.isDirectory(dir.resolve("a/b/c")))
    }
  }
}
