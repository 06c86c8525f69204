package graftbench

import graft.SparkEntry
import graft.streaming.EventStreams
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** `stream_fold`: a closed-loop micro-batch monitor over three
  * `EventStreams` gates that use the state layer differently. Each step
  * lands one pre-staged input slice in a gate's source directory and
  * calls `processAllAvailable`, timing landing → report published:
  *   - winsorized over lineitem: a large cell state, rewritten by
  *     `foldState` every trigger;
  *   - psi over events: a small cell state;
  *   - paragraph dedup over documents: an append-only ledger.
  * At the end each gate's report must equal its batch twin in
  * `SparkEntry` run over the slices the stream consumed. */
final class StreamFold(ctx: Ctx) extends Workload {
  import ctx.spark

  val tables = Seq("lineitem", "events", "documents")

  /** A gate, the table it consumes, its batch twin in `SparkEntry`, and the
    * report columns compared with the twin (all of them when empty). */
  private case class Gate(name: String, table: String, twin: String, cols: Seq[String])
  private val gates = Seq(
    Gate("winsorized", "lineitem", "q_winsorized", Nil),
    Gate("psi", "events", "mon_psi", Nil),
    Gate("paragraph", "documents", "dedup_paragraph",
      Seq("doc_id", "n_chunks", "n_kept", "kept_checksum")))

  private val warmRounds = 1
  /** Slices staged per gate: the warm rounds plus two rounds per measured
    * second; a run that uses them all up stops early. */
  val slices: Int = warmRounds + 1 + 2 * ctx.seconds
  private var stage = ""
  private var sliceRows: Map[(String, Int), Long] = Map.empty
  private var queries: Map[String, StreamingQuery] = Map.empty
  private var next = 0

  def prepare(dir: String): Unit = {
    stage = s"$dir/stage"
    val n = slices.toLong
    def sliced(g: String, df: DataFrame, key: org.apache.spark.sql.Column): Unit =
      df.withColumn("slice", key.cast("int")).repartition(col("slice"))
        .write.partitionBy("slice").mode("overwrite").parquet(s"$stage/$g")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    sliced("winsorized", li, pmod(xxhash64(lit(ctx.seed) +: li.columns.map(col): _*), lit(n)))
    // events and documents arrive in id order, as a real feed delivers them
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val nEv = ev.count()
    sliced("psi", ev, col("event_id") * n / math.max(1L, nEv))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val nDocs = docs.count()
    sliced("paragraph", docs, col("doc_id") * n / math.max(1L, nDocs))
    sliceRows = gates.flatMap { g =>
      spark.read.parquet(s"$stage/${g.name}").groupBy(col("slice")).count().collect()
        .map(r => (g.name, r.getInt(0)) -> r.getLong(1))
    }.toMap
  }

  /** The source directory carries the table's file name, so the batch twin
    * reads exactly the slices the stream consumed, in place. */
  private def inputs(g: Gate) = ctx.path(s"stream/${g.name}/in")
  private def src(g: Gate) = s"${inputs(g)}/${g.table}.parquet"
  private def state(g: Gate) = ctx.path(s"stream/${g.name}/state")

  private def start(g: Gate): StreamingQuery = {
    ctx.fs.mkdirs(new Path(src(g)))
    val schema = spark.read.parquet(s"$stage/${g.name}").drop("slice").schema
    val in = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(src(g))
    g.name match {
      case "winsorized" => EventStreams.winsorizedStream(
        in.select(col("l_returnflag").as("flag"),
          expr("cast(round(l_extendedprice * 100) as long)").as("v")), state(g))
      case "psi" => EventStreams.psiStream(
        in.select(col("event_type").as("source"),
          (graft.Tables.epochSec(in) / 86400).cast("long").as("day"),
          expr("cast(round(value * 100) as long)").as("cents")), state(g))
      case "paragraph" => EventStreams.paragraphDedupStream(
        graft.operators.Dedup.paragraphWire(in.select(col("doc_id"), col("text"))), state(g))
    }
  }

  /** Move slice `i` of gate `g` into its source directory (one rename). */
  private def land(g: Gate, i: Int): Unit = {
    val fs = ctx.fs
    val part = fs.listStatus(new Path(s"$stage/${g.name}/slice=$i")).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    require(fs.rename(part, new Path(src(g), f"slice-$i%05d.parquet")), s"landing $part")
  }

  def warm(): Unit = {
    queries = gates.map(g => g.name -> start(g)).toMap
    (1 to warmRounds).foreach(_ => pass(0))
  }

  override def exhausted: Boolean = next >= slices

  def pass(i: Int): Seq[Op] = {
    val k = next
    next += 1
    gates.map { g =>
      val q = queries(g.name)
      val (_, secs) = Workload.time {
        ctx.span(s"stream.${g.name}.trigger") { land(g, k); q.processAllAvailable() }
      }
      Op(g.name, secs, sliceRows.getOrElse((g.name, k), 0L), q.exception.isEmpty)
    }
  }

  def finish(): Seq[(String, Boolean, Int)] = {
    queries.values.foreach { q => q.stop(); q.awaitTermination() }
    gates.map { g =>
      val twin = SparkEntry.queries(g.twin)(spark, inputs(g))
      val report = spark.read.parquet(s"${state(g)}/report")
      val cols = (if (g.cols.isEmpty) report.columns.toSeq else g.cols).map(col)
      val ok = Workload.contentHash(report.select(cols: _*)) ==
        Workload.contentHash(twin.select(cols: _*))
      (s"${g.name} report equals ${g.twin}", ok, if (ok) 0 else next)
    }
  }

  override def layerMetrics(passes: Int, generic: Map[String, Double]): Seq[(String, Double, String)] = {
    val names = queries.map { case (n, q) => q.id.toString -> n }
    val prog = ctx.tracer.streamProgress
    def mean(k: String) = if (prog.isEmpty) 0.0
      else prog.map(_._2.getOrElse(k, 0L)).sum.toDouble / prog.size
    val stateMb = gates.map { g =>
      val p = new Path(s"${state(g)}")
      if (ctx.fs.exists(p)) ctx.fs.getContentSummary(p).getLength / 1048576.0 else 0.0
    }.sum
    val self = Workload.spanSelfTimes(ctx.tracer.allSpans, passes)
    Seq(
      ("stream.add_batch_ms", mean("addBatch"), "ms"),
      ("stream.query_planning_ms", mean("queryPlanning"), "ms"),
      ("stream.wal_commit_ms", mean("walCommit"), "ms"),
      ("stream.commit_offsets_ms", mean("commitOffsets"), "ms"),
      ("stream.latest_offset_ms", mean("latestOffset"), "ms"),
      ("stream.input_rows", if (prog.isEmpty) 0.0 else prog.map(_._3).sum.toDouble / prog.size,
        "rows"),
      ("stream.state_mb", stateMb, "MB"),
      ("stream.state_written_mb", generic.getOrElse("fs.written_mb", 0.0) / gates.size, "MB"),
      ("stream.triggers_traced", prog.count(p => names.contains(p._1)).toDouble, "count")) ++
      gates.map(g => (s"stream.${g.name}.trigger_s",
        self.get(s"stream.${g.name}.trigger").map(_._1).getOrElse(0.0), "s"))
  }
}
