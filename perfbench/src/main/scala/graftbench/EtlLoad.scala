package graftbench

import graft.config.{Pipeline, PipelineCfg}
import graft.sources.Ingest
import org.apache.spark.sql.functions._

/** `etl_load`: the reference job. `Pipeline.run` in the default rename
  * publish mode (truncate-and-load) over one source document that covers
  * every staged source kind. The wires (archive, OGC, REST, Atom) are
  * built once in set-up. Untraced runs time the whole document per
  * operation; traced runs call `Pipeline.run` once per source, so each
  * source kind gets its own span. */
final class EtlLoad(ctx: Ctx) extends Workload {
  import ctx.spark

  val tables = Seq("region", "nation", "customer", "supplier", "orders", "lineitem")

  private val target = ctx.path("etl_target")
  private val aoi = Seq(1000.0, 3.0, 6000.0, 17.0)
  private var sources: Seq[(String, String)] = Nil // (kind, source json)
  private var expected: Map[String, Long] = Map.empty

  private def doc(srcs: Seq[String]): PipelineCfg = PipelineCfg.fromJson(
    s"""{"sources": [${srcs.mkString(",\n")}],
       | "load": {"target": "$target", "mode": "truncate"}}""".stripMargin)

  def prepare(dir: String): Unit = {
    val wire = s"$dir/wires"
    Ingest.buildArchiveWire(spark, dir).write.mode("overwrite").parquet(s"$wire/archive")
    val (ogcSvc, ogcPages) = Ingest.buildOgcWire(spark, dir)
    ogcSvc.write.mode("overwrite").parquet(s"$wire/ogc/service")
    ogcPages.write.mode("overwrite").parquet(s"$wire/ogc/pages")
    val (restSvc, restLayers) = Ingest.buildRestServiceWire(spark, dir)
    restSvc.write.mode("overwrite").parquet(s"$wire/rest/service")
    restLayers.write.mode("overwrite").parquet(s"$wire/rest/layers")
    val (feed, files) = Ingest.buildAtomWire(spark, dir)
    feed.write.mode("overwrite").parquet(s"$wire/atom/feed")
    files.write.mode("overwrite").parquet(s"$wire/atom/files")
    sources = Seq(
      "parquet" -> s"""{"name": "orders_f", "path": "$dir/orders.parquet",
         | "where": "o_orderstatus = 'F'",
         | "select": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]}""".stripMargin,
      "oid_sweep" -> s"""{"name": "lineitem_swept", "path": "$dir/lineitem.parquet",
         | "where": "l_quantity >= 45",
         | "oidSweep": {"keyColumn": "l_orderkey", "batches": 16}}""".stripMargin,
      "archive" -> s"""{"name": "regional_archives", "path": "$wire/archive", "format": "archive"}""",
      "ogc" -> s"""{"name": "ogc_collections", "path": "$wire/ogc", "format": "ogc"}""",
      "rest" -> s"""{"name": "rest_layers", "path": "$wire/rest", "format": "rest",
         | "include": ["nation_1*", "*_2"]}""".stripMargin,
      "atom" -> s"""{"name": "atom_feed", "path": "$wire/atom", "format": "atom",
         | "filterServices": true}""".stripMargin,
      "wfs" -> s"""{"name": "wfs_segments", "path": "$dir/customer.parquet",
         | "typenameColumn": "c_mktsegment",
         | "typenames": ["BUILDING", "MACHINERY", "AUTOMOBILE"]}""".stripMargin,
      "aoi" -> s"""{"name": "customer_aoi", "path": "$dir/customer.parquet",
         | "geoprocess": {"enabled": true, "xColumn": "c_acctbal", "yColumn": "c_nationkey",
         |   "aoi": [${aoi.mkString(", ")}]}}""".stripMargin)
    expected = expectedCounts(dir)
  }

  /** Loaded-row counts derived from the source tables alone, with the
    * document's predicates restated in plain DataFrame code. */
  private def expectedCounts(dir: String): Map[String, Long] = {
    def t(n: String) = spark.read.parquet(s"$dir/$n.parquet")
    def perNation(df: org.apache.spark.sql.DataFrame, key: String, prefix: String,
        keep: org.apache.spark.sql.Column) =
      df.join(t("nation"), col(key) === col("n_nationkey")).filter(keep)
        .groupBy(lower(col("n_name"))).count().collect()
        .map(r => s"$prefix/${r.getString(0)}" -> r.getLong(1)).toMap
    val segments = Seq("BUILDING", "MACHINERY", "AUTOMOBILE")
    Map(
      "orders_f" -> t("orders").filter(col("o_orderstatus") === "F").count(),
      "lineitem_swept" -> t("lineitem").filter(col("l_quantity") >= 45).count(),
      "customer_aoi" -> t("customer").filter(col("c_acctbal").between(aoi(0), aoi(2)) &&
        col("c_nationkey").between(aoi(1), aoi(3))).count()) ++
      t("customer").filter(col("c_mktsegment").isin(segments: _*))
        .groupBy(lower(col("c_mktsegment"))).count().collect()
        .map(r => s"wfs_segments/${r.getString(0)}" -> r.getLong(1)) ++
      perNation(t("supplier"), "s_nationkey", "regional_archives", lit(true)) ++
      perNation(t("customer"), "c_nationkey", "ogc_collections", lit(true)) ++
      perNation(t("customer"), "c_nationkey", "rest_layers",
        lower(col("n_name")).rlike("^nation_1.*$|^.*_2$")) ++
      // the single-layer FeatureServer document stands for its own layer,
      // whatever the include patterns say
      Map("rest_layers/municipal_assets" -> t("customer").filter(col("c_custkey") % 10 === 0).count()) ++
      perNation(t("supplier"), "s_nationkey", "atom_feed", col("n_nationkey") % 3 < 2)
  }

  private def runDoc(srcs: Seq[(String, String)]): Map[String, Long] =
    Pipeline.run(spark, doc(srcs.map(_._2))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Traced runs: one `Pipeline.run` per source, each under its own span. */
  private def runPerSource(): Map[String, Long] =
    sources.map { case (kind, json) =>
      ctx.span(s"etl.source.$kind")(runDoc(Seq(kind -> json)))
    }.reduce(_ ++ _)

  def warm(): Unit = (1 to 2).foreach(_ => pass(0))

  def pass(i: Int): Seq[Op] = {
    val (got, secs) = Workload.time {
      ctx.span("etl.run")(if (ctx.traced) runPerSource() else runDoc(sources))
    }
    val ok = got == expected
    if (!ok) System.err.println("etl_load summary mismatch (source: got/expected): " +
      (got.keySet ++ expected.keySet).toSeq.sorted.filter(k => got.get(k) != expected.get(k))
        .map(k => s"$k: ${got.get(k)}/${expected.get(k)}").mkString(", "))
    Seq(Op("run", secs, got.values.sum, ok))
  }

  def finish(): Seq[(String, Boolean, Int)] = Nil

  override def layerMetrics(passes: Int, generic: Map[String, Double]): Seq[(String, Double, String)] = {
    val self = Workload.spanSelfTimes(ctx.tracer.allSpans, passes)
    val jobs = generic.getOrElse("exec.jobs", 0.0)
    sources.map(_._1).map(k => (s"etl.source.${k}_s", self.get(s"etl.source.$k")
      .map(_._1).getOrElse(0.0), "s")) ++ Seq(
      ("etl.jobs_per_source", jobs / sources.size, "count"),
      ("etl.write_job_share", if (jobs == 0) 0.0
        else generic.getOrElse("exec.write_jobs", 0.0) / jobs, "ratio"))
  }
}
