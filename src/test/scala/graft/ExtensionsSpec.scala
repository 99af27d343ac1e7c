package graft

import org.apache.spark.sql.functions._

/** Catalyst extension points, all installed at runtime on the session
  * that uses them: the `cosine_sim` / `minhash_sig` SQL registrations
  * (which [[GraftSession.registerTables]] also performs) and the as-of
  * strategy (`AsofJoinApi.asofJoin` installs it on first use). */
class ExtensionsSpec extends SparkSuite {

  test("cosine_sim is callable from SQL text after registration") {
    graft.functions.CosineSim.register(spark)
    val v = spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS s")
      .head.getDouble(0)
    assert(math.abs(v - 1.0) < 1e-12)
  }

  test("minhash_sig is callable from SQL text; literal-typed k/width enforced") {
    graft.functions.MinHashSig.register(spark)
    val sql = spark.sql(
      "SELECT minhash_sig(array('a', 'b', 'c'), 4, 1) AS sig").head.getSeq[Long](0)
    // must agree with the Column API on the same input
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val api = Seq(Seq("a", "b", "c")).toDF("toks")
      .select(graft.functions.MinHashSig.minhash_sig(col("toks"), 4, 1))
      .head.getSeq[Long](0)
    assert(sql === api)
    val e = intercept[Exception](
      spark.sql("SELECT minhash_sig(array('a'), 1 + 3)").collect())
    assert(e.getMessage.contains("INT literal"), e.getMessage)
  }

  test("as-of join null-extends null keys/timestamps (never matches them)") {
    import spark.implicits._
    val left = Seq((Some(1L), Some(10L)), (None, Some(10L)), (Some(1L), None))
      .toDF("k", "t")
    val right = Seq((Some(1L), Some(5L), 100L), (None, Some(5L), 101L))
      .toDF("k2", "t2", "id")
    val out = graft.plans.AsofJoinApi.asofJoin(left, right, "k", "k2", "t", "t2", "id")
      .select($"k", $"t", $"id").collect().map(_.toSeq).toSet
    assert(out === Set(
      Seq(1L, 10L, 100L),   // real match
      Seq(null, 10L, null), // null key never matches (even vs null-key right)
      Seq(1L, null, null))) // null ts never matches
  }

  test("as-of join rejects mismatched key/ts types at plan time") {
    import spark.implicits._
    val left = Seq((1, 10L)).toDF("k", "t")          // int key
    val right = Seq((1L, 5L, 100L)).toDF("k2", "t2", "id") // long key
    val e = intercept[IllegalArgumentException](
      graft.plans.AsofJoinApi.asofJoin(left, right, "k", "k2", "t", "t2", "id"))
    assert(e.getMessage.contains("key types must match"), e.getMessage)
  }

  test("GraftSession.registerTables exposes the full surface to plain SQL") {
    // a fresh session starts from the built-in function registry, so the
    // graft functions below resolve only if registerTables registered them
    val fresh = spark.newSession()
    GraftSession.registerTables(fresh, sf)
    val n = fresh.sql("SELECT count(1) FROM lineitem").head.getLong(0)
    assert(n > 0)
    // events view must be the ns-safe reader
    val ev = fresh.sql("SELECT count(1) FROM events WHERE ts IS NOT NULL").head.getLong(0)
    assert(ev > 0)
    // cosine_sim over the registered embeddings view from SQL text
    val s = fresh.sql(
      """SELECT round(cosine_sim(embedding, embedding), 9) AS s
         FROM embeddings LIMIT 1""").head.getDouble(0)
    assert(s === 1.0)
    assert(fresh.sql("SELECT minhash_sig(array('a', 'b'), 4, 1)").head.getSeq[Long](0).size === 4)
  }

  test("as-of strategy handles ties and empty right side") {
    import spark.implicits._
    val left = Seq((1L, 10L), (1L, 20L), (2L, 15L)).toDF("k", "t")
    val right = Seq((1L, 5L, 100L), (1L, 5L, 103L), (1L, 15L, 101L), (3L, 1L, 102L))
      .toDF("k2", "t2", "id")
    val out = graft.plans.AsofJoinApi.asofJoin(left, right, "k", "k2", "t", "t2", "id")
      .select($"k", $"t", $"id").collect().map(_.toSeq).toSet
    assert(out === Set(
      Seq(1L, 10L, 103L),   // tie on t2=5 → greatest id wins
      Seq(1L, 20L, 101L),   // latest strictly-before
      Seq(2L, 15L, null)))  // key with no right rows null-extends
  }
}
