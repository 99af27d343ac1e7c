package perfbench

import graft.{operators, sources, streaming}

/** The benchmark's workloads: fixed, named lists of registered queries.
  * The run seed only permutes the order within each pass.
  * `warmPasses` untimed passes in the seeded order follow the warm pass,
  * as part of the set-up: right after it a pass is still 20-40% slower
  * than the next while the JIT compiles the code paths the first passes
  * took, for longer on `analytics_mix`. */
final case class Workload(name: String, queries: Seq[String], pipeline: Boolean,
    warmPasses: Int) {
  /** One pass's members: the queries plus, for `pipeline`, the bulk
    * connector job. */
  def members: Seq[String] = queries ++ (if (pipeline) Seq(Pipeline.Name) else Nil)

  /** Pass `pass`'s execution order under `seed`: a permutation of
    * [[members]], the same for the same (seed, pass). */
  def order(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(members.sorted)
}

object Workloads {

  /** The bank each member comes from, for the per-module trace
    * breakdown. */
  lazy val banks: Seq[(String, Set[String])] = Seq(
    "sources.RestQueries" -> sources.RestQueries.queries.keySet,
    "streaming.Streams" -> streaming.Streams.queries.keySet,
    "operators.EtlOps" -> operators.EtlOps.queries.keySet,
    "operators.Aggregates" -> operators.Aggregates.queries.keySet,
    "operators.Relational" -> operators.Relational.queries.keySet,
    "operators.Windows" -> operators.Windows.queries.keySet,
    "operators.TextOps" -> operators.TextOps.queries.keySet,
    "operators.VectorOps" -> operators.VectorOps.queries.keySet,
    "operators.Multimodal" -> operators.Multimodal.queries.keySet)

  def bankOf(query: String): String =
    if (query == Pipeline.Name) "perfbench.Pipeline"
    else banks.collectFirst { case (b, qs) if qs.contains(query) => b }.getOrElse("?")

  val all: Seq[Workload] = Seq(
    Workload("ingest_load", Seq(
      "rest_source", "etl_end_to_end", "dsv2_pipeline", "stream_rest_ingest",
      "stream_static_join", "scan_jsonl"), pipeline = true, warmPasses = 3),
    Workload("analytics_mix", Seq(
      // the fixed-floor relational mix
      "q6_forecast_revenue", "q14_promo_effect", "agg_count_distinct",
      "filter_pred", "join_anti", "win_rank",
      // the executor-bound corpus mix
      "text_tfidf", "mm_decode", "vec_cosine_topk"),
      pipeline = false, warmPasses = 4))

  def apply(name: String): Workload =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown workload '$name'"))
}
