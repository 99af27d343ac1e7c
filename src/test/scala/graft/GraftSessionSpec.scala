package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The single-mechanism design: one session factory ([[GraftSession]]),
  * one bank registry ([[SparkEntry.banks]]). None of these needs a session. */
class GraftSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CONF parser: empty entries skipped, a missing '=' or key fails naming the entry") {
    assert(GraftSession.parseConf("") === Nil)
    assert(GraftSession.parseConf(" a.b=1 ;; c=x=y; d= ;") ===
      Seq("a.b" -> "1", "c" -> "x=y", "d" -> ""))
    Seq("a.b=1;oops", "=1").foreach { spec =>
      val e = intercept[IllegalArgumentException](GraftSession.parseConf(spec))
      val bad = spec.split(";").last
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("one session factory: no SparkSession builder call in src/ outside GraftSession.scala") {
    // the needle is split so this file does not match itself
    val needle = "SparkSession" + ".builder("
    val files = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList
    assert(files.size > 50, s"source walk broke: ${files.size} files")
    def hits(p: Path): Boolean = Files.readString(p).contains(needle)
    val outside = files.filter(hits).filterNot(_.getFileName.toString == "GraftSession.scala")
    assert(outside.isEmpty, s"sessions built outside GraftSession.builder: ${outside.mkString(", ")}")
    assert(files.exists(p => p.getFileName.toString == "GraftSession.scala" && hits(p)))
  }

  test("registry: a name two banks share fails the union; queries is built once") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.union("query", Seq(Map("a" -> 1, "b" -> 2), Map("c" -> 3), Map("b" -> 4))))
    assert(e.getMessage.endsWith(": b"), e.getMessage)
    assert(SparkEntry.union("query", Seq(Map("a" -> 1), Map("b" -> 2))) === Map("a" -> 1, "b" -> 2))
    assert(SparkEntry.queries eq SparkEntry.queries)
  }

  test("oracle SQL is normalized once in SparkEntry: one line, single spaces, no bank-level copies") {
    assert(SparkEntry.oracleSql.size > 500)
    val messy = SparkEntry.oracleSql.collect {
      case (k, v) if v != v.trim || "\\s\\s|[\\n\\r\\t]".r.findFirstIn(v).isDefined => k
    }
    assert(messy.isEmpty, s"oracles not on one line: ${messy.mkString(", ")}")
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toList
    val copies = files.filter(p => p.getFileName.toString != "SparkEntry.scala" &&
      Files.readString(p).contains(".replaceAll(\"\\\\s+\", \" \").trim"))
    assert(copies.isEmpty, s"oracle whitespace normalized outside SparkEntry: ${copies.mkString(", ")}")
  }
}
