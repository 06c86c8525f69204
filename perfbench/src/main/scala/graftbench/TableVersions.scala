package graftbench

import graft.config.{Pipeline, PipelineCfg}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** `table_versions`: manifest publish (`graft.publish.mode=manifest`) with
  * reads beside writes. A seeded sequence of truncate and append
  * generations lands order slices in one target; after each commit a
  * reader resolves the live manifest and scans it, reads the increment
  * since its cursor, and time-travels to the previous generation. Every
  * count must equal the one the slice bookkeeping predicts. */
final class TableVersions(ctx: Ctx) extends Workload {
  import ctx.spark

  val tables = Seq("orders")
  private val target = ctx.path("tv_target")
  private val name = "orders_v"
  private val nSlices = 16
  private var dir = ""
  private var sliceRows: Map[Int, Long] = Map.empty
  private var live = Vector.empty[Int]   // slices in the live generation
  private var prev = Vector.empty[Int]   // slices in the retained previous one
  private var gen = 0
  private var liveVersions = 0L
  private var versionDirs = 0L

  def prepare(d: String): Unit = {
    dir = d
    sliceRows = spark.read.parquet(s"$d/orders.parquet")
      .groupBy(pmod(col("o_orderkey"), lit(nSlices.toLong)).cast("int")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  private def draw(g: Int, tag: Int, m: Int): Int =
    Math.floorMod(scala.util.hashing.MurmurHash3.productHash((ctx.seed, g, tag)), m)

  /** Generation g truncates every sixth time and on a seeded quarter of
    * the rest, so the live version list stays short. */
  private def plan(g: Int): (String, Int) =
    (if (g % 6 == 0 || draw(g, 0, 4) == 0) "truncate" else "append", draw(g, 1, nSlices))

  private def count(paths: Seq[String]): Long =
    if (paths.isEmpty) 0L else spark.read.parquet(paths: _*).count()

  def warm(): Unit = {
    spark.conf.set("graft.publish.mode", "manifest")
    (1 to 4).foreach(_ => pass(0))
  }

  def pass(i: Int): Seq[Op] = {
    val (mode, s) = plan(gen)
    gen += 1
    val cfg = PipelineCfg.fromJson(
      s"""{"sources": [{"name": "$name", "path": "$dir/orders.parquet",
         |  "where": "pmod(o_orderkey, $nSlices) = $s"}],
         | "load": {"target": "$target", "mode": "$mode"}}""".stripMargin)
    if (mode == "truncate") { prev = live; live = Vector(s) } else live :+= s
    def rows(ss: Seq[Int]) = ss.map(sliceRows.getOrElse(_, 0L)).sum
    val (loaded, tCommit) = Workload.time(ctx.span("tv.run") {
      Pipeline.run(spark, cfg).collect().map(_.getLong(1)).sum
    })
    val (scanned, tResolve) = Workload.time(ctx.span("tv.read") {
      val paths = ctx.span("tv.resolve")(Pipeline.resolvePublished(spark, target, name))
      ctx.span("tv.scan")(count(paths))
    })
    val (fresh, tIncr) = Workload.time(ctx.span("tv.incremental")(
      count(Pipeline.readIncremental(spark, target, name, "bench"))))
    val (old, tTravel) = Workload.time(ctx.span("tv.travel")(
      count(Pipeline.resolvePrevGeneration(spark, target, name))))
    if (ctx.tracer.on) {
      liveVersions += Pipeline.resolvePublished(spark, target, name).size
      val base = new Path(target, Pipeline.safeNameString(name))
      versionDirs += ctx.fs.listStatus(base).count(_.getPath.getName.startsWith("v_"))
    }
    // rows: the new slice a generation lands; how much the reads see
    // depends on the seeded truncate/append sequence
    Seq(Op("commit", tCommit, rows(Seq(s)), loaded == rows(if (mode == "append") live else Seq(s))),
      Op("resolve_scan", tResolve, 0L, scanned == rows(live)),
      Op("incremental", tIncr, 0L, fresh == rows(Seq(s))),
      Op("travel", tTravel, 0L, old == rows(prev)))
  }

  def finish(): Seq[(String, Boolean, Int)] = Nil

  override def layerMetrics(passes: Int, generic: Map[String, Double]): Seq[(String, Double, String)] = {
    val self = Workload.spanSelfTimes(ctx.tracer.allSpans, passes)
    def t(n: String) = self.get(n).map(_._1).getOrElse(0.0)
    Seq(("tv.run_s", t("tv.run"), "s"), ("tv.resolve_s", t("tv.resolve"), "s"),
      ("tv.scan_s", t("tv.scan"), "s"), ("tv.incremental_s", t("tv.incremental"), "s"),
      ("tv.travel_s", t("tv.travel"), "s"),
      ("tv.live_versions", liveVersions.toDouble / math.max(1, passes), "count"),
      ("tv.version_dirs", versionDirs.toDouble / math.max(1, passes), "count"))
  }
}
