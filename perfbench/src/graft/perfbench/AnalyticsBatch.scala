package graft.perfbench

import graft.{SparkEntry, Tables}
import graft.sources.ConcurrentJobs

/** `analytics_batch`: a fixed list of registered `SparkEntry.queries`, run
  * once each in registry-sorted order into the noop sink. The order
  * matters: `doc_lm_build` installs the cached model `doc_lm_gate` then
  * serves from. The seed does not apply.
  *
  * The list is what fits the benchmark's time budget (README.md): the
  * single-task-bound text queries, the IVF serving index, and short
  * queries from every family, where planning and job launch dominate.
  */
final class AnalyticsBatchWorkload extends Workload {
  import AnalyticsBatchWorkload._

  def primary(kind: String): Boolean = kind.startsWith("query.")

  /** The sf0.1 table footers, and the batch once over the sf0.001 tables
    * beside them, from a small pool, so class loading, JIT and whole-stage
    * codegen of every query are done before the measured batch.
    */
  def setup(c: Ctx): Unit = {
    Tables.names.foreach {
      case "events" => Tables.events(c.spark, c.sf).count()
      case n => Tables.load(c.spark, c.sf, n).count()
    }
    val tiny = java.nio.file.Paths.get(c.sf).resolveSibling("sf0.001").toString
    val registry = SparkEntry.queries
    ConcurrentJobs.run(Queries.map(name => () => {
      Digest.materialize(registry(name)(c.spark, tiny), name); ()
    }), Runtime.getRuntime.availableProcessors())
  }

  def measure(c: Ctx): Unit = {
    val registry = SparkEntry.queries
    Queries.sorted.foreach { name =>
      c.log.run(s"query.$name", c.tracer)(Digest.materialize(registry(name)(c.spark, c.sf), name)) {
        digest =>
          // the approximate sketches are checked by row count only
          val d = if (name.startsWith("ev_approx_")) digest.takeWhile(_ != ':') else digest
          (Some(name), Some(d), None)
      }
    }
  }

  def layers(c: Ctx): Map[String, Double] = {
    def familyS(prefix: String) =
      c.log.ops.filter(o => o.kind.startsWith(s"query.$prefix") && o.error.isEmpty).map(_.ms).sum / 1e3
    Map("ops.relational_s" -> familyS("q"), "ops.events_s" -> familyS("ev_"),
      "text.doc_s" -> familyS("doc_"), "vector.vec_s" -> familyS("vec_"),
      "multimodal.mm_s" -> familyS("mm_"))
  }
}

object AnalyticsBatchWorkload {
  val Queries: Seq[String] = Seq(
    // single-task-bound text queries
    "doc_lm_build", "doc_lm_gate", "doc_phrase_search", "doc_repetition",
    // the serving ladder: an IVF ServeIndex built on first use, then probed
    "vec_serve_search",
    // short queries from every family: planning and job launch dominate
    "crm_tickets_closed", "crm_tickets_default", "doc_search", "doc_splits", "doc_token_counts",
    "ev_top_users", "ev_tumbling_hourly", "mm_media_meta", "q6_revenue_forecast", "q_semi_join",
    "q_topk_parts", "vec_knn_cosine", "vec_range_search",
    // approximate sketches, checked by row count only
    "ev_approx_quantiles", "ev_approx_users")
}
