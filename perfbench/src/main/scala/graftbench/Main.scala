package graftbench

import java.lang.management.ManagementFactory
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Benchmark driver: one workload, one seed, one process.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --scratch <dir> [--sf <scale>] [--spans <file>] [--smoke]
  *
  * Set-up (session start, three input generations into fresh directories,
  * workload staging, then the warm passes) is
  * timed apart from the measured loop, which runs closed-loop passes for
  * `--seconds`, and at least two. Every engine write goes under `--scratch`. Standard output
  * carries one line per metric and, last, `RESULT <json>`. */
object Main {
  /** The engine-wide per-layer metrics a traced run reports, in order. */
  val PerLayer: Seq[(String, String)] = Seq(
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms", "plan.physical_ms" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.busy_s" -> "s", "exec.task_s" -> "s",
    "shuffle.read_mb" -> "MB", "shuffle.write_mb" -> "MB", "spill_mb" -> "MB",
    "driver.off_job_s" -> "s",
    "fs.read_ops" -> "count", "fs.write_ops" -> "count", "fs.written_mb" -> "MB",
    "jvm.gc_ms" -> "ms",
    "trace.pass_s" -> "s", "trace.untraced_pass_s" -> "s", "trace.overhead_s" -> "s")

  private final case class Pass(secs: Double, ops: Seq[Op], traced: Boolean,
      c: Counters, busyS: Double)

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val smoke = args.contains("--smoke")
    val name = opt("workload")
    val seed = opt.getOrElse("seed", "1").toLong
    val seconds = opt.getOrElse("seconds", "10").toInt
    val trace = opt.getOrElse("trace", "0") == "1"
    val scratch = new java.io.File(opt("scratch")).getAbsolutePath
    val sf = opt.getOrElse("sf", "0.01").toDouble
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val setups = if (smoke) 1 else 3

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(scratch, cores, trace)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tracer = new Tracer(spark)
    if (trace) tracer.register()
    val ctx = Ctx(spark, seed, sf, seconds, scratch, tracer, trace)
    val w: Workload = name match {
      case "etl_load" => new EtlLoad(ctx)
      case "stream_fold" => new StreamFold(ctx)
      case "query_mix" => new QueryMix(ctx)
      case "table_versions" => new TableVersions(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // input generation is repeated into fresh directories and the median
    // counted; staging and warm-up build on the last copy, once
    val inputs = new Inputs(spark, seed, sf)
    val genS = (1 to setups).map { r =>
      val (_, s) = Workload.time(inputs.write(ctx.path(s"inputs-$r"), w.tables))
      if (r > 1) ctx.fs.delete(new Path(ctx.path(s"inputs-${r - 1}")), true)
      s
    }
    val (_, stageS) = Workload.time(w.prepare(ctx.path(s"inputs-$setups")))
    val (_, warmS) = Workload.time(w.warm())
    val setupS = sessionS + Stats.median(genS) + stageS + warmS

    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val deadline = System.nanoTime() + seconds * 1000000000L
    // at least two measured passes (two of each kind when tracing), so a
    // run's median never rests on a single pass
    val minPasses = if (smoke) (if (trace) 2 else 1) else if (trace) 4 else 2
    def more = passes.size < minPasses || (!smoke && System.nanoTime() < deadline)
    while (more && !w.exhausted) {
      val traced = trace && passes.size % 2 == 1
      tracer.on = traced
      val c0 = if (traced) tracer.snapshot() else Counters()
      val from = tracer.nowMicros
      val (ops, secs) = Workload.time(w.pass(passes.size))
      passes += (if (!traced) Pass(secs, ops, false, Counters(), 0.0) else {
        tracer.drain()
        val c = tracer.snapshot() - c0
        Pass(secs, ops, true, c, tracer.busyMicros(from, tracer.nowMicros) / 1e6)
      })
      tracer.on = false
    }
    val checks = w.finish()
    val heapMb = retainedHeapMb()

    val plain = passes.filterNot(_.traced)
    val ops = passes.flatMap(_.ops)
    val failedOps = math.min(ops.size, ops.count(!_.ok) + checks.map(_._3).sum)
    val opSecs = plain.flatMap(_.ops).map(_.secs)
    val e2e = Seq(
      ("setup_s", setupS, "s", s"session ${fmt(sessionS)} s + median of ${genS.size} " +
        s"input generations ${fmt(Stats.median(genS))} s + staging ${fmt(stageS)} s + " +
        s"warm ${fmt(warmS)} s"),
      ("pass_s", Stats.median(plain.map(_.secs)), "s", s"median of ${plain.size} passes"),
      ("op_p50_s", Stats.median(opSecs), "s", s"median of ${opSecs.size} operations"),
      ("rows_per_s", plain.flatMap(_.ops).map(_.rows).sum / math.max(1e-9, opSecs.sum), "rows/s",
        s"${plain.flatMap(_.ops).map(_.rows).sum} rows"),
      ("heap_retained_mb", heapMb, "MB", "used heap after full GC at run end"))

    println(s"# workload $name seed $seed sf $sf cores $cores seconds $seconds trace ${if (trace) 1 else 0}")
    e2e.foreach { case (n, v, u, note) => line(n, v, u, note) }
    workloadLines(name, plain.toSeq).foreach { case (n, v, u, note) => line(n, v, u, note) }
    line("failed_ratio", failedOps.toDouble / math.max(1, ops.size), "ratio",
      s"$failedOps of ${ops.size} operations")
    checks.foreach { case (c, ok, _) => println(s"check  ${if (ok) "ok  " else "FAIL"}  $c") }

    val metrics: Seq[(String, Double, String)] = if (!trace) e2e.map(m => (m._1, m._2, m._3))
    else {
      val tp = passes.filter(_.traced)
      val n = math.max(1, tp.size).toDouble
      def per(f: Pass => Double) = tp.map(f).sum / n
      val mb = 1048576.0
      val tracedMedian = Stats.median(tp.map(_.secs))
      val plainMedian = Stats.median(plain.map(_.secs))
      val generic = Map(
        "plan.analysis_ms" -> per(_.c.analysisMs), "plan.optimization_ms" -> per(_.c.optimizationMs),
        "plan.physical_ms" -> per(_.c.physicalMs),
        "exec.jobs" -> per(_.c.jobs), "exec.write_jobs" -> per(_.c.writeJobs),
        "exec.stages" -> per(_.c.stages), "exec.tasks" -> per(_.c.tasks),
        "exec.busy_s" -> per(_.busyS), "exec.task_s" -> per(_.c.taskMs / 1000.0),
        "shuffle.read_mb" -> per(_.c.shuffleRead / mb), "shuffle.write_mb" -> per(_.c.shuffleWrite / mb),
        "spill_mb" -> per(_.c.spill / mb), "driver.off_job_s" -> per(p => p.secs - p.busyS),
        "fs.read_ops" -> per(_.c.fsReadOps), "fs.write_ops" -> per(_.c.fsWriteOps),
        "fs.written_mb" -> per(_.c.fsWritten / mb), "jvm.gc_ms" -> per(_.c.gcMs),
        "trace.pass_s" -> tracedMedian, "trace.untraced_pass_s" -> plainMedian,
        "trace.overhead_s" -> (tracedMedian - plainMedian))
      val layer = PerLayer.map { case (k, u) => (k, generic(k), u) }
      // self time per span name: its duration minus what its child spans
      // (benchmark spans and Spark jobs) cover
      val selfTimes = Workload.spanSelfTimes(tracer.allSpans, tp.size).toSeq.sortBy(_._1)
        .map { case (span, (_, self)) => (s"$span.self_s", self, "s") }
      val extra = ("exec.write_jobs", generic("exec.write_jobs"), "count") +:
        (w.layerMetrics(tp.size, generic) ++ selfTimes)
      println(s"# per-layer, mean per traced pass over ${tp.size} traced passes " +
        s"(${plain.size} untraced passes interleaved)")
      (layer ++ extra).foreach { case (k, v, u) => line(k, v, u, "") }
      opt.get("spans").foreach(f => writeSpans(f, name, seed, tracer.allSpans, layer ++ extra))
      layer
    }

    val result = Map(
      "correct" -> (failedOps == 0 && checks.forall(_._2)),
      "attempted" -> ops.size,
      "failed" -> failedOps,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (k, v, u) =>
        k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }: _*))
    println("RESULT " + json.writeValueAsString(result))
    spark.stop()
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def fmt(v: Double) = f"$v%.3f"

  private def line(n: String, v: Double, u: String, note: String): Unit =
    println(f"$n%-26s ${v}%14.6f $u%-7s $note")

  /** The workload-named views of the same samples. */
  private def workloadLines(name: String, passes: Seq[Pass]): Seq[(String, Double, String, String)] = {
    def kind(k: String => Boolean) = passes.flatMap(_.ops).filter(o => k(o.kind)).map(_.secs)
    def p50(n: String, xs: Seq[Double]) = (n, Stats.median(xs), "s", s"median of ${xs.size}")
    def p90(n: String, xs: Seq[Double]) = (n, Stats.quantile(xs, 0.9), "s",
      s"p90 of ${xs.size}" + (if (xs.size < 100) " (under 100 samples: fewer than 10 beyond it)" else ""))
    val all = kind(_ => true)
    name match {
      case "etl_load" =>
        val rows = passes.flatMap(_.ops).map(_.rows).sum
        Seq(p50("etl_run_s", all), ("etl_rows_per_s", rows / math.max(1e-9, all.sum), "rows/s",
          s"$rows rows over ${all.size} runs"))
      case "stream_fold" => Seq(p50("trigger_p50_s", all), p90("trigger_p90_s", all))
      case "query_mix" => Seq(p50("mix_s", passes.map(_.secs)), p50("query_p50_s", all))
      case "table_versions" =>
        Seq(p50("commit_p50_s", kind(_ == "commit")), p50("read_p50_s", kind(_ != "commit")))
      case _ => Nil
    }
  }

  /** Used heap after full GCs, repeated until the figure settles: Spark's
    * context cleaner drops unreachable cached blocks (local checkpoints,
    * broadcasts) only after a GC has found them, on its own thread, so a
    * single GC can still count them. */
  private def retainedHeapMb(): Double = {
    def afterGc() = {
      System.gc(); Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = afterGc()
    var cur = afterGc()
    var rounds = 2
    while (math.abs(cur - prev) > 0.5 && rounds < 8) { prev = cur; cur = afterGc(); rounds += 1 }
    cur
  }

  private def writeSpans(file: String, name: String, seed: Long, spans: Seq[Span],
      layer: Seq[(String, Double, String)]): Unit = {
    val f = new java.io.File(file)
    f.getParentFile.mkdirs()
    json.writeValue(f, Map(
      "workload" -> name, "seed" -> seed,
      "per_layer" -> scala.collection.immutable.ListMap(layer.map { case (k, v, u) =>
        k -> Map("value" -> v, "unit" -> u) }: _*),
      "spans" -> spans.map(s => scala.collection.immutable.ListMap("id" -> s.id, "name" -> s.name,
        "start_us" -> s.start, "end_us" -> s.end, "parent" -> s.parent, "op" -> s.op))))
  }

  /** A `local[cores]` session whose every write root is under `scratch`;
    * traced sessions count filesystem calls. */
  def session(scratch: String, cores: Int, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$scratch/hadoop-tmp")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$scratch/checkpoints")
      .config("graft.scratch.root", s"$scratch/graft")
      .config("graft.ivf.root", s"$scratch/graft/graft_ivf")
      .config("graft.lm.root", s"$scratch/graft/graft_lm")
      .config("graft.card.root", s"$scratch/graft/graft_card")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

object Stats {
  def median(xs: scala.collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (type 7); 0 for no samples. */
  def quantile(xs: scala.collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
}
