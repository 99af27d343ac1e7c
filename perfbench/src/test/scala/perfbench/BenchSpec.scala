package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The benchmark's own checks: its lists, its order, its percentile rule
  * and its fingerprint. Run with `sbt test` in perfbench/. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val data = Paths.get("data", "sf0.1").toAbsolutePath.toString
  private lazy val spark: SparkSession = {
    val tmp = Files.createDirectories(Paths.get("target", "test-tmp").toAbsolutePath)
    System.setProperty("java.io.tmpdir", tmp.toString)
    Main.session(Main.Opts(cpus = 2))
  }

  override def afterAll(): Unit = {
    graft.ArtifactCache.evictAllCaches()
    spark.stop()
  }

  test("every listed name resolves in SparkEntry.queries and in a traced bank") {
    val registered = SparkEntry.queries.keySet
    for (w <- Workloads.all; n <- w.queries) {
      assert(registered.contains(n), s"${w.name} lists $n, which is not registered")
      assert(Workloads.bankOf(n) != "?", s"$n comes from no bank in Workloads.banks")
    }
  }

  test("every listed query is listed once and has one golden fingerprint") {
    val golden = Files.readAllLines(Paths.get("golden.txt")).asScala
      .map(_.split("\\s+")).filter(_.length == 2).map(a => a(0) -> Fp.parse(a(1))).toMap
    for (w <- Workloads.all) {
      assert(w.queries.nonEmpty && w.queries.distinct == w.queries)
      for (n <- w.queries) assert(golden.contains(n), s"no golden fingerprint for $n")
    }
  }

  test("a seed gives a deterministic order that covers the list once per pass") {
    for (w <- Workloads.all; seed <- Seq(0L, 1L, 7L, 123456789L); pass <- 0 to 3) {
      val order = w.order(seed, pass)
      assert(order == w.order(seed, pass))
      assert(order.sorted == w.members.sorted)
      assert(order.distinct.size == order.size)
    }
    val w = Workloads("analytics_mix")
    assert((1L to 10L).map(w.order(_, 0)).distinct.size > 1, "the seed must change the order")
    assert(w.order(3L, 0) != w.order(3L, 1), "passes of one run are ordered apart")
  }

  test("the percentile is smooth and p90 leaves a tenth of the samples beyond it") {
    for (n <- Seq(11, 31, 101, 251)) {
      val xs = (1 to n).map(_.toDouble).reverse
      assert(math.abs(Stats.percentile(xs, 0.5) - (n + 1) / 2.0) < 1e-6, s"n=$n")
      val p90 = Stats.percentile(xs, 0.9)
      assert(math.abs(xs.count(_ > p90) - n / 10.0) <= 1, s"n=$n")
    }
    // where the middle ranks straddle a gap, the estimate lies inside it
    val base = Seq.fill(10)(1.0) ++ Seq.fill(11)(2.0)
    val p50 = Stats.percentile(base, 0.5)
    assert(p50 > 1.0 && p50 < 2.0)
    assert(Stats.percentile(Seq(5.0), 0.9) == 5.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("the timed passes depend on --seconds alone, at least three") {
    assert(Run.timedPasses(16) == 4)
    assert(Run.timedPasses(1) == Run.MinPasses)
    assert(Run.timedPasses(60) == 15)
  }

  test("the same query executed twice gives the same fingerprint") {
    for (name <- Seq("agg_group", "join_anti", "win_rank")) {
      val a = Fingerprint.of(SparkEntry.queries(name)(spark, data))
      spark.catalog.clearCache()
      val b = Fingerprint.of(SparkEntry.queries(name)(spark, data))
      spark.catalog.clearCache()
      assert(a == b, name)
      assert(a.rows > 0, name)
    }
  }

  test("the fingerprint ignores row order and sees every row and column") {
    val df = spark.read.parquet(s"$data/nation.parquet")
    val base = Fingerprint.of(df)
    assert(base.rows == df.count())
    assert(Fingerprint.of(df.orderBy(col("n_name").desc)) == base)
    assert(Fingerprint.of(df.repartition(3)) == base)
    assert(Fingerprint.of(df.drop("n_regionkey")) != base)
    assert(Fingerprint.of(df.limit(24)).rows == base.rows - 1)
    assert(Fingerprint.of(df.withColumn("n_regionkey", col("n_regionkey") + 1)) != base)
  }

  test("the bulk connector job loads every stub record and checks it") {
    val out = Files.createTempDirectory("pipeline").toString
    val r = Pipeline.run(spark, 2000L, out, new Tracer)
    assert(r.ok, r.detail)
    assert(r.rows == 2000L)
  }
}
