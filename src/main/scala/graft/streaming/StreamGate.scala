package graft.streaming

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.util.control.NonFatal

/** Oracle-gate entry points for the G-family (SURVEY §2 G): each runs a
  * REAL Structured Streaming query to completion (file source → sink,
  * through the streaming engine's state machinery), then returns the
  * materialized result as a batch frame the driver hashes against a
  * DuckDB oracle — promoting the streaming rows from spec-only to the
  * same hash-exact gate every batch operator sits behind.
  *
  * Every single-input entry goes through [[gate]], whose `batches`
  * argument carries the determinism contract: operators whose
  * cross-batch semantics are ARRIVAL-ORDER-dependent (sessionize G3,
  * paragraph ledger G15, Markov boundary pairs G19, …) run as ONE
  * micro-batch (`batches = 1`) — the in-order case their docs declare,
  * where stream ≡ batch provably; operators whose state folds
  * ASSOCIATIVELY (exact dedup G2, the cumulative fold gates, the
  * sketches) run MULTI-batch (`maxFilesPerTrigger=1` over `batches`
  * input files) because any batch split folds to the same answer. The
  * multi-batch specs in StreamingSpec stay the slicing-equivalence
  * proof; these entries are the end-to-end oracle check.
  *
  * CONTRACT: gates run SERIALLY on the shared session (Bench and Verify
  * drive them one at a time): [[runSized]] sets and restores a
  * session-level conf, which is not safe under concurrent gate runs the
  * way `Scorecard.parRun` drives batch gates — a concurrent driver must
  * clone the session (`spark.newSession()`) per gate instead. */
object StreamGate {

  private def root(spark: SparkSession, name: String): String =
    Tables.scratch(spark, s"graft_stream/$name")

  /** Fresh scratch dir (state/checkpoint/input must not leak between
    * gate runs — a stale checkpoint would mark the input processed and
    * the sink would stay empty). */
  private def fresh(spark: SparkSession, name: String): String = {
    val dir = root(spark, name)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    dir
  }

  /** State-store partitions per gate: one per 16 MiB of staged input,
    * never fewer than 8 — every micro-batch pays a per-partition
    * state-store protocol, and fewer than 8 serializes the heavy keyed
    * folds (measurements in OPTIMIZATION_r18.md). */
  private val MinStreamParts = 8L
  private val BytesPerStreamPart = 16L << 20

  /** Run the query `start` returns to completion (`processAllAvailable`,
    * `stop`, `awaitTermination`) with `spark.sql.shuffle.partitions` —
    * which fixes the query's state-store count at start — sized to the
    * bytes under `base`, capped at the session's parallelism. The conf
    * stays applied through `awaitTermination` because the stream's
    * session clone happens on the query thread. On exit, even if the
    * gate throws, the conf is restored and the gate's state is released:
    * its fold-cache entries and the executor's state-store providers,
    * whose in-memory copies would otherwise tax whatever runs next on
    * the session. Values do not depend on the partition count: every
    * gate's fold is key-local. */
  private def runSized(spark: SparkSession, base: String)(start: => StreamingQuery): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = try fs.getContentSummary(p).getLength catch { case NonFatal(_) => 0L }
    val target = math.max(MinStreamParts, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      (bytes + BytesPerStreamPart - 1) / BytesPerStreamPart))
    spark.conf.set(key, target.toString)
    try {
      val q = start
      q.processAllAvailable(); q.stop(); q.awaitTermination()
    } finally {
      spark.conf.set(key, prev)
      EventStreams.releaseFolds(base)
      try org.apache.spark.sql.GraftShims.unloadStateStores()
      catch { case NonFatal(_) => () }
    }
  }

  /** File stream over the parquet files at `path`, with the schema read
    * back from them; one file per trigger when `perFile`. */
  private def streamOf(spark: SparkSession, path: String, perFile: Boolean): DataFrame = {
    val r = spark.readStream.schema(spark.read.parquet(path).schema)
    (if (perFile) r.option("maxFilesPerTrigger", "1") else r).parquet(path)
  }

  /** The one gate run: stage `input` under a fresh `graft_stream/<name>`
    * dir as one file (`batches = 1`) or `batches` files read one per
    * trigger, stream it back, run `start(src, base)` to completion
    * through [[runSized]], and return `base` for reading the result. */
  private def gate(spark: SparkSession, name: String, input: DataFrame, batches: Int)(
      start: (DataFrame, String) => StreamingQuery): String = {
    val base = fresh(spark, name)
    (if (batches == 1) input else input.repartition(batches)).write.parquet(s"$base/in")
    runSized(spark, base)(start(streamOf(spark, s"$base/in", batches > 1), base))
    base
  }

  /** [[gate]] over an `EventStreams` state gate writing under
    * `<base>/state`; returns the report it published. */
  private def reportOf(spark: SparkSession, name: String, input: DataFrame, batches: Int)(
      stream: (DataFrame, String) => StreamingQuery): DataFrame = {
    val base = gate(spark, name, input, batches)((src, base) => stream(src, s"$base/state"))
    spark.read.parquet(s"$base/state/report")
  }

  /** Memory sink `graft_stream_<name>` with its checkpoint under `base`. */
  private def toMemory(df: DataFrame, mode: String, name: String, base: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    df.writeStream.outputMode(mode)
      .format("memory").queryName(s"graft_stream_$name")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(trigger).start()

  /** (source, day, cents) per event — the daily-moments gates' input. */
  private def dailyCents(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).eventsSec
      .select(col("event_type").as("source"),
        expr("sec div 86400").cast("long").as("day"),
        expr("cast(round(value * 100) as long)").as("cents"))

  /** (source, cents, pos) per event, weekend days positive — the
    * classifier-evaluation gates' input. */
  private def labeledCents(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).eventsSec
      .select(col("event_type").as("source"),
        expr("cast(round(value * 100) as long)").as("cents"),
        expr("cast(((sec div 86400) + 4) % 7 in (0, 6) as long)").as("pos"))

  /** G1 gate: watermarked tumbling-window aggregation run availableNow in
    * complete mode to a memory sink — the final table equals E13's batch
    * bucketing (same epoch-aligned 1-hour windows), oracled by the same
    * SQL. */
  def streamWindowAgg(spark: SparkSession, dir: String): DataFrame = {
    gate(spark, "window_agg", Tables(spark, dir).eventsSec
        .select(timestamp_seconds(col("sec")).as("ts"), col("event_type"), col("value")), 1) {
      (src, base) => toMemory(EventStreams.windowedCounts(src), "complete", "window_agg", base)
    }
    spark.table("graft_stream_window_agg")
      .select(col("bucket_start").cast("long").as("bucket_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("bucket_start"), col("event_type"))
  }

  /** G2 gate: streaming exact dedup on (user_id, event_type), MULTI-batch
    * (4 input files, one per trigger) — per-key state carries across
    * micro-batches, later duplicates are dropped; the watermark delay
    * exceeds the corpus span so no state evicts and no row is late
    * (the exact-dedup configuration; bounded-state eviction is the
    * StreamingSpec's subject). The emitted key set is then rolled up to
    * a deterministic per-type report. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    gate(spark, "dedup", Tables(spark, dir).eventsSec
        .select(timestamp_seconds(col("sec")).as("ts"), col("user_id"), col("event_type")), 4) {
      (src, base) => toMemory(EventStreams.dedupStream(src, Seq("user_id", "event_type"),
        "3650 days"), "append", "dedup", base)
    }
    spark.table("graft_stream_dedup")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("user_id")).cast("long").as("user_checksum"))
      .orderBy(col("event_type"))
  }

  /** G3 gate: stateful sessionization (flatMapGroupsWithState) run
    * availableNow — append mode emits each CLOSED session once; the last
    * session of every user stays open in the state store by design, so
    * the oracle is E12's session rollup MINUS each user's final session. */
  def streamSessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    gate(spark, "sessionize", Tables(spark, dir).eventsSec
        .select(col("user_id"), col("sec"), col("value")), 1) {
      (src, base) => toMemory(EventStreams.sessionizeStream(src.as[SessionEvent]).toDF(),
        "append", "sessionize", base)
    }
    spark.table("graft_stream_sessionize")
      .select(col("user_id"), col("n_events"), col("start_sec"), col("end_sec"),
        round(col("session_value"), 2).as("session_value"))
      .orderBy(col("user_id"), col("start_sec"))
  }

  /** G15 gate: the streaming paragraph-dedup ledger run availableNow over
    * the wired corpus (one batch — the in-order case where the ledger's
    * keep-first equals F49's min-occurrence rule exactly); the report
    * parquet the stream emits IS the gated frame. */
  def streamParagraphDedup(spark: SparkSession, dir: String): DataFrame =
    reportOf(spark, "paragraph", graft.operators.Dedup.paragraphWire(
        Tables(spark, dir).documents.select(col("doc_id"), col("text"))), 1)(
      EventStreams.paragraphDedupStream(_, _))
      .orderBy(col("doc_id"))

  /** G19 gate: the streaming Markov state store run availableNow (one
    * batch — the in-order case where stored-last boundary pairs equal the
    * batch window pass); the cumulative report equals E35 and shares its
    * oracle. */
  def streamMarkov(spark: SparkSession, dir: String): DataFrame =
    reportOf(spark, "markov", Tables(spark, dir).eventsSec
        .select(col("user_id"), col("sec"), col("event_id"), col("event_type")), 1)(
      EventStreams.markovStream)
      .orderBy(col("state"), col("next_state"))

  /** G29 gate: streaming top paths run to completion — the in-order
    * single availableNow batch (the G19 arrival-order contract; the
    * multi-batch slicing-equivalence proof lives in StreamingSpec);
    * the final cumulative report equals E59's batch pass and shares
    * its oracle verbatim. */
  def streamTopPaths(spark: SparkSession, dir: String): DataFrame =
    reportOf(spark, "top_paths", Tables(spark, dir).eventsSec
        .select(col("user_id"), col("event_id"), col("sec"), col("event_type")), 1)(
      EventStreams.topPathsStream(_, _))
      .orderBy(col("rank"))

  /** G30 gate: streaming Cramér's V run MULTI-batch over the
    * (l_returnflag, l_linestatus) pair — contingency cells fold
    * associatively across 4 triggers; the final report equals E56's
    * middle branch and is oracled by that branch's SQL. */
  def streamCramers(spark: SparkSession, dir: String): DataFrame =
    reportOf(spark, "cramers", Tables(spark, dir).lineitem
        .select(col("l_returnflag").as("a"), col("l_linestatus").as("b")), 4)(
      EventStreams.cramersStream(_, _, "l_returnflag", "l_linestatus"))

  /** G31 gate: streaming winsorized/trimmed means run MULTI-batch —
    * value cells fold associatively across 4 triggers; the final
    * report equals E58's batch pass and shares its oracle verbatim. */
  def streamWinsorized(spark: SparkSession, dir: String): DataFrame =
    reportOf(spark, "winsorized", Tables(spark, dir).lineitem
        .select(col("l_returnflag").as("flag"),
          expr("cast(round(l_extendedprice * 100) as long)").as("v")), 4)(
      EventStreams.winsorizedStream)
      .orderBy(col("l_returnflag"))

  /** G16 gate: the streaming constraint monitor — the SAME
    * `checkConstraintsOf` plan on a streaming lineitem source in
    * complete mode, run MULTI-batch (4 files, one per trigger): the
    * conditional partials (violation counts, min offending key) merge
    * associatively across triggers, so the final cumulative report
    * equals D35's batch pass and shares its oracle verbatim. */
  def streamConstraints(spark: SparkSession, dir: String): DataFrame = {
    gate(spark, "constraints", Tables(spark, dir).lineitem, 4) {
      (src, base) => toMemory(EventStreams.constraintMonitorStream(src),
        "complete", "constraints", base)
    }
    spark.table("graft_stream_constraints").orderBy(col("constraint_name"))
  }

  /** G25 gate: streaming exact heavy hitters run MULTI-batch — per-key
    * integer counts accumulate in the persisted state across 4 triggers
    * (the one truly associative statistic), and the final verdict
    * through the shared `heavyHittersFromCounts` filter equals E29's
    * two-pass batch op, sharing its oracle verbatim. */
  def streamHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    reportOf(spark, "heavy_hitters", Tables(spark, dir).events.select(col("user_id")), 4)(
      EventStreams.heavyHittersStream(_, _))
      .orderBy(col("user_id"))

  /** G23 gate: the streaming Benford screen run MULTI-batch — per
    * (source, digit) counts accumulate across 4 triggers (associative
    * integers, zero drift), final verdict via the shared
    * `benfordFromCounts` equals D42's batch op and shares its oracle. */
  def streamBenford(spark: SparkSession, dir: String): DataFrame =
    reportOf(spark, "benford", Tables(spark, dir).events
        .select(col("event_type").as("source"),
          expr("cast(round(value * 100) as long)").as("cents")), 4)(
      EventStreams.benfordStream(_, _))
      .orderBy(col("source"), col("digit"))

  /** G24 gate: the streaming Holt forecast run MULTI-batch — per
    * (source, day) integer (Σcents, n) moments accumulate across 4
    * triggers (a day split across batches folds to the same daily
    * metric), and the final `holtOver` fold over the accumulated
    * dailies equals D43's batch trajectory bit-for-bit, sharing its
    * oracle. */
  def streamHolt(spark: SparkSession, dir: String): DataFrame =
    reportOf(spark, "holt", dailyCents(spark, dir), 4)(EventStreams.holtStream(_, _))
      .orderBy(col("source"), col("day"))

  /** G22 gate: the streaming seasonal monitor run MULTI-batch — the
    * same accumulated-moments argument as G24; the final `seasonalOf`
    * report equals D41's batch pass bit-for-bit, sharing its oracle. */
  def streamSeasonal(spark: SparkSession, dir: String): DataFrame =
    reportOf(spark, "seasonal", dailyCents(spark, dir), 4)(EventStreams.seasonalStream(_, _))
      .orderBy(col("source"), col("day"))

  /** G28 gate: the streaming Hampel filter run MULTI-batch — the same
    * accumulated-moments argument as G22/G24; the final `hampelOver`
    * report equals D55's batch pass bit-for-bit, sharing its oracle. */
  def streamHampel(spark: SparkSession, dir: String): DataFrame =
    reportOf(spark, "hampel", dailyCents(spark, dir), 4)(EventStreams.hampelStream(_, _))
      .orderBy(col("source"), col("day"))

  /** G14 gate: continuous changelog apply run MULTI-batch — the
    * latest-wins reduction is associative-commutative over unique seqs
    * (ChangelogSpec proves the algebra), so the 4-trigger fold of the
    * D34 synthetic history converges to the batch snapshot no matter
    * where the batch boundaries land; the final state rolled up by
    * final-event class shares D34's oracle verbatim. */
  def streamChangelog(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = gate(spark, "changelog", graft.operators.LoadOps.ordersChangelog(spark, dir), 4) {
      (src, base) => EventStreams.changelogStream(src.as[ChangeEvent], s"$base/state")
    }
    spark.read.parquet(s"$base/state")
      .groupBy(col("op").as("final_op"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("op") =!= "D", 1).otherwise(0)).cast("long").as("n_live"),
        round(sum(when(col("op") =!= "D", col("value"))), 2).as("value_sum"),
        sum(when(col("op") =!= "D", col("key")).otherwise(0L)).cast("long").as("key_checksum"))
      .orderBy(col("final_op"))
  }

  /** G13 gate: the streaming circuit breaker run as one availableNow
    * batch over the D33 attempt log (the breaker automaton is
    * order-dependent; one batch = the in-order case, and the per-batch
    * sort key (sec, attempt_id) is total) — the emitted decisions roll
    * up through the same aggregation as the batch replay and share
    * D33's oracle verbatim. */
  def streamBreaker(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    gate(spark, "breaker", Tables(spark, dir).eventsSec
        .withColumn("failed", (col("sec") % 604800L < 86400L).cast("int"))
        .select(col("event_type").as("source"), col("sec"),
          col("event_id").as("attempt_id"), col("failed")), 1) {
      (src, base) => toMemory(EventStreams
        .circuitBreakerStream(src.as[Attempt], threshold = 5, cooldownSec = 14400L)
        .toDF(), "append", "breaker", base)
    }
    spark.table("graft_stream_breaker")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_attempts"),
        sum(when(col("decision") === "ok", 1).otherwise(0)).cast("long").as("n_ok"),
        sum(when(col("decision") === "fail", 1).otherwise(0)).cast("long").as("n_fail_closed"),
        sum(when(col("decision") === "tripped", 1).otherwise(0)).cast("long").as("n_tripped"),
        sum(when(col("decision") === "skipped", 1).otherwise(0)).cast("long").as("n_skipped"),
        sum(when(col("decision") === "trial_fail", 1).otherwise(0)).cast("long").as("n_trial_fail"),
        sum(when(col("decision") === "trial_ok", 1).otherwise(0)).cast("long").as("n_trial_ok"),
        min(when(col("decision") === "tripped", col("sec"))).as("first_trip_sec"),
        max(when(col("decision").isin("tripped", "trial_fail"), col("sec"))).as("last_trip_sec"))
      .orderBy(col("source"))
  }

  /** G17 gate: the streaming novelty ledger run as one availableNow
    * batch over the corpus (the in-order case where batch-first carrier
    * equals F60's global min-owner rule); the emitted per-doc reports
    * share F60's oracle verbatim. */
  def streamNovelty(spark: SparkSession, dir: String): DataFrame =
    reportOf(spark, "novelty", Tables(spark, dir).documents.select(col("doc_id"), col("text")), 1)(
      EventStreams.noveltyStream(_, _))
      .orderBy(col("doc_id"))

  /** G11 gate: stream-static enrichment run MULTI-batch — each trigger
    * of the fact stream broadcast-joins the static source catalog
    * (stateless by construction, so any batch split emits the same
    * rows); the emitted enriched facts roll up per catalog source and
    * hash-match a plain SQL join oracle. */
  def streamEnrich(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables(spark, dir).nation
      .select(col("n_nationkey").cast("long").as("source_key"), col("n_name"))
    gate(spark, "enrich", Tables(spark, dir).events
        .select((col("user_id") % 25).as("source_key"), col("event_type"), col("value")), 4) {
      (src, base) => toMemory(EventStreams.enrichStream(src, dim, "source_key"),
        "append", "enrich", base)
    }
    spark.table("graft_stream_enrich")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("value_sum"))
      .orderBy(col("n_name"))
  }

  /** G21 gate: the streaming CUSUM monitor run MULTI-batch (4 input
    * files, one per trigger) — each (source, day) daily row is unique, so
    * any batch split folds the same accumulated run log, and the final
    * report equals D40's batch trajectory bit-for-bit (integer cents). */
  def streamCusum(spark: SparkSession, dir: String): DataFrame =
    reportOf(spark, "cusum", graft.operators.LoadOps.dailyMd(spark, dir), 4)(
      EventStreams.cusumStream(_, _))
      .orderBy(col("source"), col("day"))

  /** G33 gate: the streaming Page–Hinkley monitor run MULTI-batch (4
    * input files, one per trigger) — each (source, day) daily row is
    * unique, so any batch split folds the same accumulated run log
    * through the shared cell store, and the final report equals D58's
    * batch trajectory bit-for-bit (integer micro-cents), sharing its
    * oracle verbatim. */
  def streamPageHinkley(spark: SparkSession, dir: String): DataFrame =
    reportOf(spark, "pagehinkley", graft.operators.LoadOps.dailyMd(spark, dir), 4)(
      EventStreams.pageHinkleyStream(_, _))
      .orderBy(col("source"), col("day"))

  /** G34 gate: the streaming PSI monitor run MULTI-batch (4 input
    * files, one per trigger, arbitrary row split — cell folding is
    * additive so slicing cannot matter). The completed run equals
    * D61's batch pass and shares its oracle verbatim. */
  def streamPsi(spark: SparkSession, dir: String): DataFrame =
    reportOf(spark, "psi", dailyCents(spark, dir), 4)(EventStreams.psiStream)
      .orderBy(col("source"))

  /** G35 gate: the streaming AUC monitor run MULTI-batch (4 files, one
    * per trigger, arbitrary split — cell folding is additive). Equals
    * E63's batch pass; shares its oracle verbatim. */
  def streamAuc(spark: SparkSession, dir: String): DataFrame =
    reportOf(spark, "auc", labeledCents(spark, dir), 4)(EventStreams.aucStream)
      .orderBy(col("source"))

  /** G36 gate: the streaming Mann–Kendall pager run MULTI-batch (4
    * files, one per trigger — daily moments fold additively, so the day
    * means recover exactly at any slicing). Equals D60's batch pass;
    * shares its oracle verbatim. */
  def streamMannKendall(spark: SparkSession, dir: String): DataFrame =
    reportOf(spark, "mannkendall", dailyCents(spark, dir), 4)(EventStreams.mannKendallStream)
      .orderBy(col("source"))

  /** G38 gate: the streaming forecast backtest run MULTI-batch (4
    * files, one per trigger — daily moments fold additively). Equals
    * D64's batch pass; shares its oracle verbatim. */
  def streamForecastEval(spark: SparkSession, dir: String): DataFrame =
    reportOf(spark, "feval", dailyCents(spark, dir), 4)(EventStreams.forecastEvalStream(_, _))
      .orderBy(col("source"))

  /** G39 gate: the streaming calibration diagram run MULTI-batch (4
    * files, one per trigger — cell folding additive). Equals D59's
    * batch pass; shares its oracle verbatim. */
  def streamCalibration(spark: SparkSession, dir: String): DataFrame =
    reportOf(spark, "calib", labeledCents(spark, dir), 4)(EventStreams.calibrationStream)
      .orderBy(col("source"), col("bin"))

  /** G37 gate: the streaming SRM pager run MULTI-batch (4 files, one
    * per trigger — unit-set union is slicing-independent). Equals E64's
    * batch pass; shares its oracle verbatim. */
  def streamSrm(spark: SparkSession, dir: String): DataFrame =
    reportOf(spark, "srm", Tables(spark, dir).events.select(col("event_type"), col("user_id")), 4)(
      EventStreams.srmStream)
      .orderBy(col("event_type"))

  /** G20 gate: the streaming A/B monitor run MULTI-batch (4 input files,
    * one per trigger) — per-arm integer cent-moments accumulate
    * associatively with zero float drift, so the final verdict equals the
    * one-shot pass over the corpus and shares E36's oracle verbatim
    * (values are cent-granular, so the cent-moment means/variances round
    * to the same 4-decimal inputs the var_samp path sees). */
  def streamAbtest(spark: SparkSession, dir: String): DataFrame =
    reportOf(spark, "abtest", Tables(spark, dir).events
        .select(col("event_type"), col("user_id"), col("value")), 4)(
      EventStreams.abTtestStream)
      .orderBy(col("event_type"))

  /** G18 gate: the streaming embedding-drift monitor run MULTI-batch
    * (3 input files, one per trigger) — per-(label, dim, split)
    * (sum, count) moments accumulate in state, means recover exactly from
    * the totals, so the final report equals D36's batch pass over the
    * full corpus and shares its oracle verbatim. */
  def streamDrift(spark: SparkSession, dir: String): DataFrame =
    reportOf(spark, "drift", graft.operators.Similarity.vectors(spark, dir), 3)(
      EventStreams.embeddingDriftStream(_, _))
      .orderBy(col("label"))

  /** G10 gate: the decay-average monitor run MULTI-batch (4 input files,
    * one per trigger) — per-(source, day) partial duration sums fold into
    * the persisted ledger, each trigger re-runs the shared D19 core over
    * the summed ledger, so the final report equals the batch pass over
    * the corpus and shares D19's oracle verbatim. */
  def streamDecay(spark: SparkSession, dir: String): DataFrame =
    reportOf(spark, "decay", Tables(spark, dir).eventsSec
        .select(col("event_type"), col("sec"), col("value")), 4)(
      EventStreams.decayLedgerStream(_, _))
      .orderBy(col("source"), col("day"))

  /** G26 gate: the chi-square hour-profile monitor run MULTI-batch
    * (4 input files, one per trigger) — per-(source, hour-of-day) era
    * count partials fold into the persisted BOUNDED cell ledger
    * (≤ sources×24 rows at any horizon), each trigger re-runs the
    * shared D47 assembly over the summed cells. The frozen baseline is
    * configured to each source's corpus time midpoint (one driver-sized
    * pre-scan), which is exactly the split the batch op derives itself —
    * so the final report equals the batch pass and shares D47's oracle
    * verbatim. */
  def streamChi2(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).eventsSec
    val baseline = ev.groupBy(col("event_type"))
      .agg(expr("min(sec) + (max(sec) - min(sec)) div 2").as("ref_end_sec"))
      .localCheckpoint(true)
    reportOf(spark, "chi2", ev.select(col("event_type"), col("sec")), 4)(
      EventStreams.chi2LedgerStream(_, _, baseline))
      .orderBy(col("event_type"))
  }

  /** G27 gate: the change-point monitor run MULTI-batch (4 input files,
    * one per trigger) — per-(source, day) exact integer (count, Σcents)
    * partials fold into the persisted ledger, each trigger re-runs the
    * shared D48 core over the merged dailies, so the final report
    * equals the batch pass and shares D48's oracle verbatim. */
  def streamChangepoint(spark: SparkSession, dir: String): DataFrame =
    reportOf(spark, "chgpt", Tables(spark, dir).eventsSec
        .select(col("event_type"), col("sec"), col("value")), 4)(
      EventStreams.changepointLedgerStream(_, _))
      .orderBy(col("source"))

  /** G4 gate: a REAL stream-stream interval-overlap join — both sides
    * arrive as independent multi-batch file streams (2 files each, one
    * per trigger), every interval explodes to its grid cells exactly as
    * the batch E28 plan does, and the streaming inner join meets on the
    * cell equi key with the overlap predicate and canonical-cell dedup
    * as residuals. Run to completion the append output contains exactly
    * the batch result rows — pairs whose sides arrived in DIFFERENT
    * micro-batches match through the join state, which is what
    * distinguishes this from a per-batch map — so the gate shares E28's
    * oracle verbatim. (The finite run keeps no watermark: inner-join
    * state is bounded by the run; the production deployment adds the
    * event-time range watermark for eviction — the G12 spec pins that
    * machinery.) */
  def streamJoin(spark: SparkSession, dir: String): DataFrame = {
    val base = fresh(spark, "ssjoin")
    val incidentSec = 600L; val purchaseSec = 120L
    val cellSec = math.max(incidentSec, purchaseSec)
    val ev = Tables(spark, dir).eventsSec
    ev.filter(col("event_type") === "error")
      .select(col("event_id").as("inc_id"), col("sec").as("s1"))
      .repartition(2).write.parquet(s"$base/inA")
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pur_id"), col("sec").as("s2"))
      .repartition(2).write.parquet(s"$base/inB")
    def cells(s: Column, e: Column) =
      explode(sequence(floor(s / cellSec).cast("long"), floor(e / cellSec).cast("long")))
    runSized(spark, base) {
      val inc = streamOf(spark, s"$base/inA", perFile = true)
        .withColumn("e1", col("s1") + incidentSec)
        .withColumn("cell", cells(col("s1"), col("e1")))
      val pur = streamOf(spark, s"$base/inB", perFile = true)
        .withColumn("e2", col("s2") + purchaseSec)
        .withColumn("cell", cells(col("s2"), col("e2")))
      inc.join(pur, Seq("cell"))
        .filter(col("s1") <= col("e2") && col("s2") <= col("e1"))
        .filter(col("cell") === floor(greatest(col("s1"), col("s2")) / cellSec).cast("long"))
        .select(col("inc_id"), col("pur_id"),
          greatest(col("s1"), col("s2")).as("ov_start"),
          least(col("e1"), col("e2")).as("ov_end"))
        .withColumn("ov_sec", col("ov_end") - col("ov_start"))
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt").start()
    }
    spark.read.parquet(s"$base/out")
      .orderBy(col("inc_id"), col("pur_id"))
  }

  /** G9 gate: streaming absence detection over a PLANTED-QUIET wire —
    * two sources go silent at 60% of the corpus timeline (a
    * deterministic integer cutoff both engines replay), the rest stay
    * active to the end. One data batch folds every event into
    * per-source freshness state; the closing no-data batch advances the
    * event-time watermark to the corpus maximum and fires the
    * EventTimeTimeout alerts: exactly the silenced sources emit, each
    * with its true last-seen second (alert iff last_seen + staleAfter <
    * watermark — the strict event-time-timeout inequality, replayed by
    * the oracle). */
  def streamStaleness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir).eventsSec
    val r = ev.agg(min(col("sec")).as("mn"), max(col("sec")).as("mx")).head()
    val cutoff = r.getLong(0) + (r.getLong(1) - r.getLong(0)) * 6L / 10L
    gate(spark, "staleness",
        ev.filter(!(col("event_type").isin("error", "purchase") && col("sec") > cutoff))
          .select(timestamp_seconds(col("sec")).as("ts"), col("event_type").as("source")), 1) {
      (src, base) => toMemory(EventStreams.stalenessStream(src.as[SourceEvent], 600L).toDF(),
        "append", "staleness", base, Trigger.ProcessingTime(0L))
    }
    spark.table("graft_stream_staleness")
      .select(col("source"), col("last_seen_sec"))
      .orderBy(col("source"))
  }

  /** G12 gate: stream-stream LEFT OUTER interval join (errors ⟕
    * purchases within ±300 s) with the production FLUSH-SENTINEL
    * device: one far-future heartbeat row per side (id −1, corpus max +
    * a day) advances BOTH sides' watermarks past every real row's close
    * time, so the engine evicts-and-emits the null row for every
    * unmatched real error before the stream ends — the outer join's
    * final frame becomes deterministic (sentinels match only each
    * other and are filtered from the gate). The report aggregates the
    * sink per error: match count + flag, oracled by a plain batch LEFT
    * JOIN — the stream's watermark bookkeeping must reproduce exactly
    * what the one-shot join says. */
  def streamOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val base = fresh(spark, "outerjoin")
    val ev = Tables(spark, dir).eventsSec
    val mx = ev.agg(max(col("sec"))).head().getLong(0)
    def side(tpe: String, id: String, s: String): String = {
      val path = s"$base/in_$tpe"
      ev.filter(col("event_type") === tpe)
        .select(col("event_id").as(id), col("sec").as(s))
        .unionByName(spark.range(1).select(lit(-1L).as(id),
          lit(mx + 86400L).as(s)))
        .write.parquet(path)
      path
    }
    val pa = side("error", "inc_id", "s1")
    val pb = side("purchase", "pur_id", "s2")
    def src(path: String, id: String, s: String) =
      streamOf(spark, path, perFile = false)
        .select(col(id), col(s), timestamp_seconds(col(s)).as(s"${s}_ts"))
        .withWatermark(s"${s}_ts", "0 seconds")
    runSized(spark, base) {
      // the G4 cell device gives the join its required EQUALITY key; the
      // purchase side has exactly ONE cell (its own), so every (inc, pur)
      // pair meets in exactly one exploded error cell — no pair dedup —
      // and an error cell with no purchases contributes one null row the
      // count() then ignores
      val inc = src(pa, "inc_id", "s1").withColumn("cell",
        explode(sequence(expr("(s1 - 300) div 300"), expr("(s1 + 300) div 300"))))
      val pur = src(pb, "pur_id", "s2").withColumn("cell", expr("s2 div 300"))
      inc.alias("inc").join(pur.alias("pur"),
          expr("inc.cell = pur.cell AND " +
            "s2_ts >= s1_ts - interval 300 seconds AND " +
            "s2_ts <= s1_ts + interval 300 seconds"), "leftOuter")
        .select(col("inc_id"), col("pur_id"))
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt").start()
    }
    spark.read.parquet(s"$base/out")
      .filter(col("inc_id") >= 0L)
      .groupBy(col("inc_id"))
      .agg(count(col("pur_id")).cast("long").as("n_matched"))
      .withColumn("has_match", (col("n_matched") > 0L).cast("int"))
      .orderBy(col("inc_id"))
  }

  /** G5 gate: the count–min sketch as a STREAMING aggregate, MULTI-batch
    * (4 files, one per trigger) in complete mode — per-trigger partial
    * sketches merge element-wise through the state store, and counter
    * addition is associative and order-independent, so the final sketch
    * (and therefore every probe) equals E19's one-shot batch sketch
    * bit-for-bit and shares its full DuckDB oracle. The probe walk is
    * the SAME [[graft.operators.Relational.cmsProbeFrame]] the batch op
    * uses — the two surfaces cannot drift. */
  def streamCms(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.CmsAggregate
    gate(spark, "cms", Tables(spark, dir).events
        .select(col("event_type").as("source"), col("user_id")), 4) {
      (src, base) => toMemory(src.groupBy(col("source"))
        .agg(CmsAggregate.cmsSketch(spark, col("user_id")).as("sketch")),
        "complete", "cms", base)
    }
    graft.operators.Relational.cmsProbeFrame(spark.table("graft_stream_cms"))
  }

  /** G7 gate: the HLL distinct sketch as a STREAMING aggregate,
    * MULTI-batch complete mode — register merge is element-wise max
    * (idempotent AND order-independent), so the final estimate equals
    * E20's batch sketch exactly; the gated frame is the same invariant
    * verdict (exact distinct + within-bound flag, via the shared
    * [[graft.operators.Relational.hllVerdictFrame]]) and shares E20's
    * invariant oracle. The exact side comes from one batch pass over
    * the SAME input files the stream consumed. */
  def streamHll(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HllAggregate
    val base = gate(spark, "hll", Tables(spark, dir).events
        .select(col("event_type").as("source"), col("user_id")), 4) {
      (src, base) => toMemory(src.groupBy(col("source"))
        .agg(HllAggregate.hllSketch(spark, col("user_id")).as("est_distinct_users")),
        "complete", "hll", base)
    }
    val exact = spark.read.parquet(s"$base/in")
      .groupBy(col("source"))
      .agg(countDistinct(col("user_id")).as("exact_distinct_users"))
    graft.operators.Relational.hllVerdictFrame(
      spark.table("graft_stream_hll").join(exact, Seq("source")))
  }

  /** G6 gate: the fixed-bin quantile sketch as a STREAMING aggregate,
    * MULTI-batch complete mode — histogram-counter addition is
    * associative and order-independent, so the final sketch equals
    * E25's batch sketch bit-for-bit; the estimate walk is the shared
    * [[graft.operators.Relational.quantileWalk]] and the entry shares
    * E25's full oracle. The (lo, hi) domain pins from one tiny batch
    * min/max over the same rows before the stream starts (a fixed
    * sketch parameter, exactly as the batch op derives it). */
  def streamQuantile(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.QuantileAggregate
    val in = Tables(spark, dir).lineitem.select(col("l_returnflag"), col("l_extendedprice"))
    val row = in.agg(min(col("l_extendedprice")), max(col("l_extendedprice"))).head()
    val (lo, hi) = (row.getDouble(0), row.getDouble(1))
    gate(spark, "quantile", in, 4) {
      (src, base) => toMemory(src.groupBy(col("l_returnflag"))
        .agg(QuantileAggregate.quantileSketch(spark, col("l_extendedprice"), lo, hi)
          .as("sketch")), "complete", "quantile", base)
    }
    graft.operators.Relational.quantileWalk(
      spark.table("graft_stream_quantile"), lo, hi)
  }

  /** G8 gate: the Bloom filter as a STREAMING aggregate — the dim-side
    * key set streams in MULTI-batch complete mode (bitset OR is
    * associative, idempotent and order-independent, so the final bitset
    * equals E23's batch build exactly); the finished filter then prunes
    * the batch fact side and the report is E23's join rollup, sharing
    * its full oracle (no false negatives — the bloom is plan surgery,
    * invisible in the result). */
  def streamBloom(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.BloomAggregate
    val t = Tables(spark, dir)
    val keys = t.customer.filter(col("c_acctbal") > 9000.0)
      .select(col("c_custkey"), col("c_mktsegment"))
    val nKeys = keys.count()
    val base = gate(spark, "bloom", keys, 4) {
      (src, base) => toMemory(src.agg(BloomAggregate.bloomAgg(spark, col("c_custkey"), nKeys)
        .as("bits")), "complete", "bloom", base)
    }
    t.orders
      .join(broadcast(spark.table("graft_stream_bloom")))
      .filter(BloomAggregate.mightContain(col("bits"), col("o_custkey")))
      .join(broadcast(spark.read.parquet(s"$base/in")), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("c_mktsegment"))
  }
}
