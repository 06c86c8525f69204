package graftbench

import graft.SparkEntry

/** `query_mix`: one client running a fixed, family-spanning set of
  * read-path `SparkEntry` queries after a warm pass. Each operation
  * plans the query and materializes every column of every result row into
  * an order-independent content hash (a bare `count()` would let the
  * optimizer prune the columns away); the row count and hash must equal
  * the warm pass's. The seed sets only the order of each pass. No writes:
  * the control workload for publish and streaming changes. */
final class QueryMix(ctx: Ctx) extends Workload {
  import ctx.spark

  val queries: Seq[String] = QueryMix.Queries
  val tables: Seq[String] = Inputs.All
  private var dir = ""
  private var warmHash: Map[String, (Long, Long, Long)] = Map.empty

  def prepare(d: String): Unit = dir = d

  private def frame(q: String) = SparkEntry.queries(q)(spark, dir)

  def warm(): Unit =
    warmHash = queries.map(q => q -> Workload.contentHash(frame(q))).toMap

  def pass(i: Int): Seq[Op] = {
    val order = new scala.util.Random(ctx.seed * 7919L + i).shuffle(queries)
    order.map { q =>
      val (h, secs) = Workload.time(ctx.span(s"query.${QueryMix.family(q)}") {
        Workload.contentHash(frame(q))
      })
      Op(q, secs, h._1, h == warmHash(q))
    }
  }

  def finish(): Seq[(String, Boolean, Int)] = Nil

  override def layerMetrics(passes: Int, generic: Map[String, Double]): Seq[(String, Double, String)] = {
    val self = Workload.spanSelfTimes(ctx.tracer.allSpans, passes)
    queries.map(QueryMix.family).distinct.sorted.map(f =>
      (s"query.${f}_s", self.get(s"query.$f").map(_._1).getOrElse(0.0), "s"))
  }
}

object QueryMix {
  /** Read-only entries spanning the families: relational, text, geo,
    * graph, monitoring, ETL, dedup, and two ingest paths of the sources
    * layer (archive unpack, OID sweep). */
  val Queries: Seq[String] = Seq(
    "q1_agg", "q3_join_agg", "q_window_topk", "text_tokens", "geo_bbox_clip",
    "graph_triangles", "mon_source_summary", "etl_null_audit", "dedup_exact",
    "src_archive_unpack", "src_rest_oid_sweep")

  /** `q1_agg` → `q`, `text_tfidf` → `text`. */
  def family(q: String): String = q.takeWhile(_ != '_').filter(_.isLetter)
}
