package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import scala.util.control.NonFatal

/** Input/output rows for the stateful sessionizer (G3). */
final case class SessionEvent(user_id: Long, sec: Long, value: Double)
final case class SessionSummary(user_id: Long, n_events: Long, start_sec: Long,
    end_sec: Long, session_value: Double)
private final case class SessionState(n: Long, start: Long, last: Long, sum: Double)

/** Input/output rows for the streaming absence detector (G9). */
final case class SourceEvent(ts: java.sql.Timestamp, source: String)
final case class StaleAlert(source: String, last_seen_sec: Long)
private final case class FreshState(lastSec: Long)

/** Input/output rows for the streaming decay-average monitor (G10). */
final case class RunDuration(source: String, day: Long, duration: Double)
final case class SmoothedRun(source: String, day: Long, duration: Double,
    smoothed: Double, anomaly_ratio: Double)
private final case class DecayState(day: Long, num: Double, den: Double)

/** Input/output rows for the streaming circuit breaker (G13). */
/** G14: one row-level change event of a CDC subscription (D34 shape). */
final case class ChangeEvent(key: Long, seq: Long, op: String, value: Double)

final case class Attempt(source: String, sec: Long, attempt_id: Long, failed: Int)
final case class BreakerDecision(source: String, seq: Long, sec: Long,
    attempt_id: Long, failed: Int, decision: String)
private final case class BreakerState(consec: Int, openUntil: Long, seq: Long)
final case class LineRow(l_orderkey: Long, l_quantity: Double,
    l_extendedprice: Double, l_discount: Double, l_tax: Double)

/** Structured Streaming surface (SURVEY §2 G). The reference's pipeline is
  * batch re-ingest on a schedule (run.py); the Spark-native upgrade is a
  * continuous pipeline: file/queue source → watermarked event-time
  * transforms → sink, with the same operator semantics as the batch path
  * (G1 mirrors E13's tumbling buckets; G2 mirrors F1's exact dedup).
  *
  * These are DataFrame→DataFrame transforms usable on both batch and
  * streaming inputs — the streaming specs drive them through MemoryStream
  * and assert batch equivalence.
  */
object EventStreams {

  /** Crash-safe state publish for the foreachBatch state stores: write the
    * new generation to `<dir>.next`, set the old one aside as `<dir>.prev`,
    * promote, then drop the backup. A crash at ANY step leaves a readable
    * generation for [[readState]]:
    *   - during the `.next` write → current generation intact (and the
    *     partial `.next` has no _SUCCESS marker, so it is never trusted);
    *   - between set-aside and promote → the complete `.next` is readable;
    *   - after promote, before backup drop → current generation readable.
    * The old delete-then-rename shape had a window where NO state existed —
    * a crash there silently reset the accumulated counts/moments and broke
    * the 'equals the batch pass over the prefix' guarantee on recovery.
    * `marker`, when given, names an empty `_`-prefixed file created in
    * `.next` before the promote, so it travels with the generation
    * (parquet readers skip `_` files). */
  private[graft] def publishState(df: DataFrame, dir: String,
      marker: Option[String] = None): Unit = {
    val spark = df.sparkSession
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = new org.apache.hadoop.fs.Path(dir)
    val next = new org.apache.hadoop.fs.Path(dir + ".next")
    val prev = new org.apache.hadoop.fs.Path(dir + ".prev")
    df.write.mode("overwrite").parquet(next.toString)
    marker.foreach(m => fs.create(new org.apache.hadoop.fs.Path(next, m), true).close())
    if (fs.exists(prev)) fs.delete(prev, true)
    if (fs.exists(cur)) require(fs.rename(cur, prev), s"state set-aside failed: $cur")
    require(fs.rename(next, cur), s"state publish failed: $next -> $cur")
    if (fs.exists(prev)) fs.delete(prev, true)
    (): Unit
  }

  /** The newest COMPLETE state generation (see [[publishState]]): current
    * if present, else a fully-written `.next` (its _SUCCESS marker proves
    * the write finished before the crash), else the `.prev` backup. */
  private def generation(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[org.apache.hadoop.fs.Path] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = new org.apache.hadoop.fs.Path(dir)
    val next = new org.apache.hadoop.fs.Path(dir + ".next")
    val prev = new org.apache.hadoop.fs.Path(dir + ".prev")
    if (fs.exists(cur)) Some(cur)
    else if (fs.exists(new org.apache.hadoop.fs.Path(next, "_SUCCESS"))) Some(next)
    else if (fs.exists(prev)) Some(prev)
    else None
  }

  /** Recover the newest complete state generation (see [[generation]]). */
  private[graft] def readState(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[DataFrame] =
    generation(spark, dir).map(g => spark.read.parquet(g.toString))

  /** Append-only ledger for corpus-scale stream state (G15 seen-chunk
    * hashes, G17 first-seen grams). The r12 shape republished the FULL
    * ledger every trigger (read → union → rewrite), so per-trigger
    * publish cost was O(corpus-so-far) and total ingest cost quadratic —
    * a genuine 100 TB scale-killer. This layout makes the steady-state
    * publish O(batch's new hashes):
    *   - base generation at `root` (the [[publishState]] crash-safe
    *     layout), rewritten ONLY at major compaction;
    *   - one delta dir per trigger at `root + ".delta/e<epoch>_d<batchId>"`
    *     holding ONLY the batch's new hashes. Callers compute the new
    *     set with an anti-join against the full ledger, so deltas are
    *     disjoint from the base and from each other by construction; an
    *     all-seen batch writes nothing, so re-feeding old data adds
    *     ZERO ledger bytes (spec-pinned). `epoch` is a per-stream-start
    *     nonce: a replay of the SAME run's batch overwrites its own dir
    *     idempotently, while a RESTART against a reused stateDir with a
    *     fresh/absent checkpoint (batchIds reset to 0) lands in a new
    *     epoch instead of silently clobbering an old uncompacted d0 —
    *     the r13 batchId-only naming lost those hashes and re-admitted
    *     their duplicates;
    *   - MAJOR compaction folds distinct(base ∪ deltas) into a new base
    *     (publishState's atomic-rename protocol, the D14 move) when the
    *     accumulated delta BYTES reach the base's size — never on a bare
    *     dir count. Each major therefore at least doubles the base, so a
    *     corpus ingested through N triggers pays O(corpus) TOTAL major
    *     I/O (geometric series) instead of the r13 count-triggered
    *     full-rewrite's Θ(corpus²/compactEvery);
    *   - MINOR compaction bounds read fan-in: when the delta dir COUNT
    *     reaches `compactEvery` while the size ratio says the base is
    *     not worth rewriting, the smallest delta dirs merge into ONE
    *     delta (smallest-first, so a byte re-merges only while its dir
    *     stays among the smallest — O(log) re-merges under balanced
    *     batch sizes), costing only the merged deltas' bytes.
    * Crash windows: a partial delta/merge write leaves no `_SUCCESS`
    * and is never trusted; a crash after a merge or major publish but
    * before the absorbed dirs drop leaves duplicate rows — benign:
    * readers use anti-joins (duplicates cannot multiply rows) and every
    * merge/major runs `distinct`, self-healing the layout (spec-pinned
    * via a poisoned stale delta). */
  private[graft] def appendLedger(newRows: DataFrame, root: String,
      batchId: Long, compactEvery: Int = 16, epoch: String = "0"): Unit = {
    val spark = newRows.sparkSession
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!newRows.isEmpty)
      newRows.write.mode("overwrite").parquet(s"$root.delta/e${epoch}_d$batchId")
    val deltas = ledgerDeltaDirs(spark, root)
    def bytes(p: org.apache.hadoop.fs.Path): Long =
      fs.getContentSummary(p).getLength
    val baseBytes = generation(spark, root).map(bytes).getOrElse(0L)
    val sized = deltas.map(d => (d, bytes(d)))
    if (deltas.nonEmpty && sized.map(_._2).sum >= math.max(baseBytes, 1L)) {
      // major: the deltas are worth a base rewrite (base at least doubles)
      readLedger(spark, root).foreach(all => publishState(all.distinct(), root))
      deltas.foreach(d => fs.delete(d, true))
    } else if (deltas.length >= compactEvery) {
      // minor: cap read fan-in without touching the base — fold the
      // smallest dirs into one merged delta (named m<batchId>: a delta
      // and its merge can never collide within an epoch)
      val merge = sized.sortBy(t => (t._2, t._1.toString))
        .take(deltas.length - compactEvery / 2 + 1).map(_._1)
      merge.map(p => spark.read.parquet(p.toString))
        .reduce(_.unionByName(_)).distinct()
        .write.mode("overwrite").parquet(s"$root.delta/e${epoch}_m$batchId")
      merge.foreach(d => fs.delete(d, true))
    }
  }

  /** Process-local cache of each fold store's last published total: the
    * prior generation a trigger needs is the total the previous trigger
    * checkpointed, so the block-manager copy saves one parquet read job
    * per trigger. A hit must match the on-disk generation's file stamp
    * and the owning session, so any out-of-band change falls back to the
    * parquet read; the disk stays the record of truth. [[releaseFolds]]
    * drops a finished gate's entries. */
  private final case class Fold(stamp: String, total: DataFrame, batchId: Long)
  private val foldCache = new java.util.concurrent.ConcurrentHashMap[String, Fold]()

  /** Drop the fold-cache entries of every store under `root`, unpinning
    * their checkpointed totals. */
  private[graft] def releaseFolds(root: String): Unit = {
    foldCache.keySet.removeIf(k => k == root || k.startsWith(root + "/"))
    (): Unit
  }

  /** Stores currently held by the fold cache. */
  private[graft] def foldCacheKeys: Set[String] = {
    import scala.jdk.CollectionConverters._
    foldCache.keySet.asScala.toSet
  }

  /** Sorted file-level stamp of a published state dir ("" = unreadable
    * or absent, which never validates a cache hit). */
  private def stateStamp(spark: org.apache.spark.sql.SparkSession,
      dir: String): String = try {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) ""
    else fs.listStatus(p)
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString("|")
  } catch { case NonFatal(_) => "" }

  /** Prefix of the marker naming the last batch folded into a generation. */
  private val FoldedPrefix = "_folded_"

  /** Last batch id whose partials the generation at `gen` holds (-1 = none). */
  private def foldedThrough(spark: org.apache.spark.sql.SparkSession,
      gen: org.apache.hadoop.fs.Path): Long =
    gen.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(gen)
      .map(_.getPath.getName).filter(_.startsWith(FoldedPrefix))
      .flatMap(_.stripPrefix(FoldedPrefix).toLongOption).foldLeft(-1L)(math.max)

  /** Shared CELL-FOLD state store for the cumulative gates: read the
    * prior generation, union the batch's partials, re-aggregate per key
    * (every non-key column summed back to its own dtype — partials are
    * additive by each gate's construction), publish crash-safe
    * ([[publishState]]), and return the total for the report assembly.
    * The state size IS the key domain's size, which each gate's scaladoc
    * argues is value-bounded; the corpus-sized ledgers (G15/G17) use
    * [[appendLedger]] instead, since this per-trigger full rewrite would
    * make their ingest quadratic.
    *
    * Given the micro-batch's `batchId` (≥ 0) the fold is replay-safe:
    * the published generation carries a `_folded_<batchId>` marker, and
    * a batch at or below the marker's id — one the engine replays after
    * a crash between this publish and its checkpoint commit — returns
    * the stored total without folding it again. `batchId = -1` folds
    * unconditionally and writes no marker. */
  private[graft] def foldState(part: DataFrame, stateDir: String,
      keys: Seq[String], batchId: Long = -1L): DataFrame = {
    val spark = part.sparkSession
    val cached = Option(foldCache.get(stateDir)).filter { c =>
      val st = stateStamp(spark, stateDir)
      st.nonEmpty && c.stamp == st && (c.total.sparkSession eq spark)
    }
    val (prior, folded) = cached.map(c => (c.total, c.batchId)).getOrElse(
      generation(spark, stateDir) match {
        case Some(g) => (spark.read.parquet(g.toString), foldedThrough(spark, g))
        case None => (part.limit(0), -1L)
      })
    if (batchId >= 0 && batchId <= folded) prior
    else {
      val aggs = part.schema.filterNot(f => keys.contains(f.name))
        .map(f => sum(col(f.name)).cast(f.dataType).as(f.name))
      val total = prior.unionByName(part)
        .groupBy(keys.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
        .localCheckpoint(true)
      publishState(total, stateDir, if (batchId >= 0) Some(FoldedPrefix + batchId) else None)
      foldCache.put(stateDir, Fold(stateStamp(spark, stateDir), total, batchId))
      total
    }
  }

  /** The cumulative fold gate: each micro-batch of `in` collapses to
    * additive `partials`, which fold per `keys` into the [[foldState]]
    * store `<stateDir>/<store>`; `report` assembles the folded total into
    * `<stateDir>/report`, overwritten every trigger, so the report equals
    * the batch pass over every row seen so far. The checkpoint lives at
    * `<stateDir>/_checkpoint`: a restart on the same `stateDir` resumes
    * after the last committed batch instead of re-reading its input, and
    * the fold's batch-id marker makes a replayed batch fold once. */
  private def foldGate(in: DataFrame, stateDir: String, store: String, keys: Seq[String])(
      partials: DataFrame => DataFrame)(report: DataFrame => DataFrame): StreamingQuery =
    in.writeStream.outputMode("append")
      .option("checkpointLocation", s"$stateDir/_checkpoint")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        report(foldState(partials(batch.toDF()), s"$stateDir/$store", keys, batchId))
          .write.mode("overwrite").parquet(s"$stateDir/report")
      }
      .start()

  /** Per-(source, day) integer (Σcents as s, n) moments of a
    * (source, day, cents) batch. */
  private def dayMoments(batch: DataFrame): DataFrame =
    batch.select(col("source"), col("day").cast("long"), col("cents").cast("long"))
      .groupBy(col("source"), col("day"))
      .agg(sum(col("cents")).as("s"), count(lit(1)).as("n"))

  /** Per-(source, cents) (positives as np, rows as cnt) cells of a
    * (source, cents, pos) batch. */
  private def labeledCells(batch: DataFrame): DataFrame =
    batch.groupBy(col("source"), col("cents").cast("long").as("cents"))
      .agg(sum(col("pos")).cast("long").as("np"), count(lit(1)).cast("long").as("cnt"))

  /** The daily metric `md = s div n` from folded [[dayMoments]]. */
  private def dayMeans(total: DataFrame): DataFrame =
    total.select(col("source"), col("day"), expr("s div n").as("md"))

  /** Complete (_SUCCESS-marked) delta dirs of an append-only ledger. */
  private[graft] def ledgerDeltaDirs(spark: org.apache.spark.sql.SparkSession,
      root: String): Seq[org.apache.hadoop.fs.Path] = {
    val deltaRoot = new org.apache.hadoop.fs.Path(root + ".delta")
    val fs = deltaRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(deltaRoot)) Seq.empty
    else fs.listStatus(deltaRoot).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
  }

  /** The full ledger = newest base generation ∪ complete deltas (may
    * contain base/delta duplicates only inside the compaction crash
    * window — callers must read through anti-joins or dedup). */
  private[graft] def readLedger(spark: org.apache.spark.sql.SparkSession,
      root: String): Option[DataFrame] = {
    val parts = readState(spark, root).toSeq ++
      ledgerDeltaDirs(spark, root).map(p => spark.read.parquet(p.toString))
    parts.reduceOption(_.unionByName(_))
  }

  /** G1: watermarked tumbling-window aggregation over an event stream with
    * columns (ts: timestamp, event_type: string, value: double). */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** G2: streaming exact dedup on a key, bounded by a watermark (the
    * streaming analogue of F1 — state is evictable, so it runs forever). */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** G11: stream-STATIC enrichment join — the production pattern for
    * in-flight dimension enrichment: each micro-batch of the fact stream
    * joins the small static dim, broadcast by Catalyst exactly as in the
    * batch plan. No state store and no watermark — stream-static joins
    * are stateless by construction (only stream-stream joins buffer), so
    * per-batch cost is O(batch), never O(history), and the query runs
    * forever at any stream volume. The static side is re-planned per
    * micro-batch, so a dim refresh lands without restarting the query —
    * the lakehouse slowly-changing-dimension serving pattern. Left join:
    * facts with no dim row survive with nulls (enrichment must never
    * drop telemetry). Spec: streamed result == the batch join, row for
    * row. */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** G3: stateful sessionization via `flatMapGroupsWithState` — custom
    * per-key state carried across micro-batches (the streaming analogue of
    * E12): a session closes when a later event arrives past the gap,
    * emitting one summary row. State is O(open sessions per key); a
    * production deployment adds a timeout to evict keys that go silent
    * (ProcessingTimeTimeout makes the engine run continuous no-data
    * batches while any timeout is pending — deliberately left out of the
    * deterministic spec path). */
  def sessionizeStream(events: Dataset[SessionEvent],
      gapSec: Long = 1800L): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val closed = scala.collection.mutable.ArrayBuffer.empty[SessionSummary]
          var cur = state.getOption
          rows.toSeq.sortBy(e => e.sec).foreach { e =>
            cur match {
              case Some(s) if e.sec - s.last > gapSec =>
                closed += SessionSummary(user, s.n, s.start, s.last, s.sum)
                cur = Some(SessionState(1, e.sec, e.sec, e.value))
              case Some(s) =>
                cur = Some(SessionState(s.n + 1, s.start, e.sec, s.sum + e.value))
              case None =>
                cur = Some(SessionState(1, e.sec, e.sec, e.value))
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }
  }

  /** G10: streaming decay-average monitoring — the continuous form of
    * the batch baseline (LoadOps.decayAvg, D19): per source, the
    * half-life-one-day weighted average maintained as an O(1) numerator/
    * denominator recurrence (num·w + d, den·w + 1 with w = 0.5^gap) that
    * carries across micro-batches, so every arriving run gets an anomaly
    * ratio against the baseline built from ALL its history — no window
    * recompute, no growing state. (The batch op bounds its window at 7
    * days and recomputes; the streaming recurrence is the
    * unbounded-history form — the standard trade for O(1) state.) Days
    * must arrive non-decreasing per source (a production deployment
    * watermarks the input; the spec feeds ordered batches). */
  def decayAvgStream(runs: Dataset[RunDuration]): Dataset[SmoothedRun] = {
    import runs.sparkSession.implicits._
    runs.groupByKey(_.source)
      .flatMapGroupsWithState[DecayState, SmoothedRun](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[RunDuration], state: GroupState[DecayState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[SmoothedRun]
          var cur = state.getOption
          rows.toSeq.sortBy(_.day).foreach { r =>
            val (num0, den0) = cur match {
              case Some(s) =>
                val w = math.pow(0.5, (r.day - s.day).toDouble)
                (s.num * w, s.den * w)
              case None => (0.0, 0.0)
            }
            val num = num0 + r.duration
            val den = den0 + 1.0
            val sm = num / den
            out += SmoothedRun(src, r.day, r.duration,
              math.rint(sm * 10000) / 10000, math.rint(r.duration / sm * 10000) / 10000)
            cur = Some(DecayState(r.day, num, den))
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  /** G10 (gated form): D19's decay-weighted smoothing as an always-on
    * monitor — each micro-batch of raw (event_type, sec, value) telemetry
    * collapses to per-(source, day) PARTIAL duration sums (batch-local
    * hash agg — state stays run-log-sized, the G15 ledger argument, never
    * event-proportional), the partials fold into a persisted ledger (the
    * G14 write-new-then-rename rule), and every trigger re-emits the full
    * trajectory by summing the partials per (source, day) and running the
    * SAME [[graft.operators.LoadOps.decayAvgOver]] core the batch op
    * uses — the G16 cumulative-report pattern, so after the last trigger
    * the report equals the one-shot D19 pass over the corpus (partial-sum
    * fold order is the only difference, the same reorder Spark's own
    * parallel agg performs; the rounded outputs are identical — gated).
    * The flatMapGroupsWithState recurrence above stays as the O(1)
    * unbounded-history capability; this is the bounded-window D19
    * semantics run continuously. */
  def decayLedgerStream(events: DataFrame, stateDir: String,
      windowDays: Int = 7): StreamingQuery =
    foldGate(events, stateDir, "dailies", Seq("source", "day")) {
      _.withColumn("day", expr("sec div 86400").cast("long"))
        .groupBy(col("event_type").as("source"), col("day"))
        .agg(sum(col("value")).as("duration"))
    }(graft.operators.LoadOps.decayAvgOver(_, windowDays))

  /** G26: D47's hour-of-day chi-square drift as an always-on monitor —
    * each micro-batch of (event_type, sec) telemetry collapses directly
    * to per-(source, hour-of-day) ERA count partials (batch-local hash
    * agg), the partials fold into the persisted cell ledger (G14
    * write-new-then-rename), and every trigger re-runs the SAME
    * [[graft.operators.LoadOps.chi2FromHourCells]] assembly the batch
    * op is built on.
    *
    * The reference era is FROZEN configuration: `baseline` is a
    * driver-sized (event_type, ref_end_sec) table — rows at or before a
    * source's ref_end_sec are its reference profile, everything after
    * is current. That is the always-on deployment shape (the batch op
    * re-derives its midpoint because it sees a finite corpus; a monitor
    * pins its baseline era, the G22/G21 training-horizon convention) and
    * it is what makes the state TRULY bounded: era assignment is pure
    * per-row arithmetic, so the ledger holds ≤ |sources|×24 cells —
    * sources×24×eras counts — FOREVER, independent of the stream's time
    * horizon (the r13 per-(source, sec) grain grew ~86k rows/day/source
    * and each trigger rewrote all of it; spec-pinned bounded now).
    * Counts are exact additive integers, so after the last trigger the
    * report equals the one-shot D47 pass with the same per-source
    * split bit-for-bit (gated — the gate derives `baseline` from the
    * corpus midpoints, making the shared-oracle equality exact).
    * Telemetry from sources absent from `baseline` is dropped — an
    * unconfigured source has no reference era to test against. */
  def chi2LedgerStream(events: DataFrame, stateDir: String,
      baseline: DataFrame): StreamingQuery =
    foldGate(events, stateDir, "cells", Seq("event_type", "hour")) {
      _.join(broadcast(baseline), Seq("event_type"))
        .groupBy(col("event_type"),
          expr("(sec div 3600) % 24").cast("long").as("hour"))
        .agg(sum(when(col("sec") <= col("ref_end_sec"), 1L).otherwise(0L))
            .cast("long").as("o_r"),
          sum(when(col("sec") > col("ref_end_sec"), 1L).otherwise(0L))
            .cast("long").as("o_c"))
    }(graft.operators.LoadOps.chi2FromHourCells)

  /** G27: D48's change-point locator as an always-on monitor — each
    * micro-batch of (event_type, sec, value) telemetry collapses to
    * per-(source, day) (count, Σcents) PARTIALS (exact integers, so the
    * fold is associative with zero drift), the partials merge into the
    * persisted ledger (G14 write-new-then-rename), and every trigger
    * re-derives the D40 daily md frame (Σcents div count — computed
    * from the MERGED sums, identical to the batch pass) and re-runs the
    * SAME [[graft.operators.LoadOps.changepointOver]] core. After the
    * last trigger the report equals the one-shot D48 pass bit-for-bit
    * (gated); mid-stream it is the change-point of the prefix — the
    * continuously-updated "when did this source move" answer a triage
    * dashboard reads. */
  def changepointLedgerStream(events: DataFrame, stateDir: String,
      bar: Double = graft.operators.LoadOps.ChangepointBar): StreamingQuery =
    foldGate(events, stateDir, "dailies", Seq("source", "day")) {
      _.select(col("event_type").as("source"),
          expr("sec div 86400").cast("long").as("day"),
          expr("cast(round(value * 100) as long)").as("cents"))
        .groupBy(col("source"), col("day"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("cents")).cast("long").as("s"))
    }(ledger => graft.operators.LoadOps.changepointOver(dayMeans(ledger), bar))

  /** G9: streaming absence detection — the capability NO batch pass has:
    * an alert that fires with ZERO new data from the silent source. The
    * batch op (LoadOps.freshness, D17) can only see staleness when a job
    * runs; here each source's state arms an EVENT-TIME TIMEOUT at
    * last_seen + staleAfter, and the watermark — advanced by the OTHER
    * sources' traffic — trips it: the engine calls the function with
    * `hasTimedOut` for the silent source's group, emitting the alert and
    * dropping the state (re-armed if the source ever returns). State is
    * O(live sources); timeouts make it self-evicting, so the query runs
    * forever. */
  def stalenessStream(events: Dataset[SourceEvent],
      staleAfterSec: Long = 600L): Dataset[StaleAlert] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.source)
      .flatMapGroupsWithState[FreshState, StaleAlert](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (src: String, rows: Iterator[SourceEvent], state: GroupState[FreshState]) =>
          if (state.hasTimedOut) {
            val last = state.get.lastSec
            state.remove()
            Iterator(StaleAlert(src, last))
          } else {
            val newest = rows.map(_.ts.getTime / 1000L).max
            val last = math.max(state.getOption.map(_.lastSec).getOrElse(0L), newest)
            state.update(FreshState(last))
            state.setTimeoutTimestamp((last + staleAfterSec) * 1000L)
            Iterator.empty
          }
      }
  }

  /** G13: streaming circuit breaker — the continuous form of the D33
    * gate: the breaker state (consec failures, open-until clock) lives in
    * the state store and carries across micro-batches, so an ingest
    * scheduler consuming this stream gets skip/trial decisions the moment
    * an attempt outcome lands, instead of at the next batch replay. The
    * transition is LoadOps.breakerStep — the SAME function the batch
    * replay calls, so the two paths cannot drift (the spec feeds one log
    * through both and asserts row equality). State is O(live sources);
    * attempts within a micro-batch apply in (sec, attempt_id) order, the
    * batch replay's order (a production deployment watermarks the input
    * so cross-batch arrival is ordered too). */
  def circuitBreakerStream(attempts: Dataset[Attempt], threshold: Int = 5,
      cooldownSec: Long = 60L): Dataset[BreakerDecision] = {
    import attempts.sparkSession.implicits._
    attempts.groupByKey(_.source)
      .flatMapGroupsWithState[BreakerState, BreakerDecision](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[Attempt], state: GroupState[BreakerState]) =>
          var st = state.getOption.getOrElse(BreakerState(0, 0L, 0L))
          val out = rows.toSeq.sortBy(a => (a.sec, a.attempt_id)).map { a =>
            val (c2, o2, decision) = graft.operators.LoadOps.breakerStep(
              st.consec, st.openUntil, a.sec, a.failed, threshold, cooldownSec)
            st = BreakerState(c2, o2, st.seq + 1)
            BreakerDecision(src, st.seq, a.sec, a.attempt_id, a.failed, decision)
          }
          state.update(st)
          out.iterator
      }
  }

  /** G16: the streaming form of the D35 CHECK-constraint gate — the SAME
    * `LoadOps.checkConstraintsOf` plan applied to a streaming source in
    * complete output mode: Spark's streaming aggregation carries the
    * conditional partial aggregates (violation counts, first offending
    * key) across micro-batches, so each trigger emits the CUMULATIVE
    * per-constraint report, equal row-for-row to the batch pass over the
    * rows seen so far (spec-pinned under arbitrary slicing). One shared
    * definition list + one shared compute, the D33/G13 convention: the
    * two paths cannot check different rules. */
  def constraintMonitorStream(rows: DataFrame): DataFrame =
    graft.operators.LoadOps.checkConstraintsOf(rows)

  /** G14: continuous changelog apply — the streaming form of D34: each
    * micro-batch of change events folds into a persisted latest-wins
    * state table through the SAME reduction the batch apply uses
    * (LoadOps.changelogLatest over state ∪ batch), so the two paths
    * cannot drift. The reduction is associative-commutative over unique
    * seqs and the state CARRIES tombstones, which is exactly what makes
    * per-batch folding safe: a batch boundary mid-key-history or
    * seq-out-of-order arrival across batches converges to the identical
    * snapshot (ChangelogSpec proves the algebra; the G14 spec drives
    * this query). State publish is write-new-then-rename — a reader
    * never sees a half-written generation, the Pipeline publish rule
    * applied to streaming state. State size is O(live keys + recent
    * tombstones), the CDC consumer's usual compaction trade. */
  def changelogStream(log: Dataset[ChangeEvent], stateDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    log.toDF().writeStream.outputMode("update")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val prev = readState(spark, stateDir)
          .map(_.unionByName(batch.toDF())).getOrElse(batch.toDF())
        publishState(graft.operators.LoadOps.changelogLatest(prev), stateDir)
      }
      .start()

  /** G15: STREAMING paragraph dedup — the F49 pass as corpus INGEST:
    * documents arrive in micro-batches, a persisted seen-chunk-hash
    * ledger carries the dedup state across batches (the G14 state-publish
    * pattern: read → union → atomic rename), and each batch emits its
    * docs' reports immediately. Keep-first is ARRIVAL order — a chunk's
    * keeper is its first occurrence across all batches so far (batch-
    * local min occ_key for hashes the ledger hasn't seen) — which equals
    * F49's min-(doc,chunk) rule exactly when docs arrive in id order
    * (spec-pinned). The report carries n_chunks / n_kept / kept_checksum;
    * a duplicate-count column is deliberately ABSENT: a stream cannot
    * know whether a chunk will be duplicated by a future batch, and the
    * batch op's corpus-wide n_dup is unknowable at emission time.
    * State is O(distinct chunks) in the [[appendLedger]] base+delta
    * layout: each trigger WRITES only the batch's never-seen hashes
    * (O(batch), not O(corpus) — the r12 full-rewrite publish made total
    * ingest cost quadratic) and READS the ledger through one anti-join
    * (the F24 incremental-dedup shape carried across restarts); major
    * compaction folds deltas into the base on a SIZE ratio (O(corpus)
    * lifetime I/O — see [[appendLedger]]), minor merges cap delta
    * fan-in at `compactEvery` dirs. */
  def paragraphDedupStream(docs: DataFrame, stateDir: String, w: Int = 20,
      compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // per-run nonce: protects a reused stateDir against a fresh
    // checkpoint's restarted batchIds (see appendLedger)
    val epoch = java.util.UUID.randomUUID().toString.take(8)
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import org.apache.spark.sql.functions._
        val spark = batch.sparkSession
        val chunks = graft.operators.Dedup
          .paragraphChunksOf(batch.toDF(), w).localCheckpoint(true)
        // batch-local first occurrence per hash (arrival order within the
        // batch = occ_key order, matching the batch op's tie rule)
        val firsts = chunks.groupBy(col("h")).agg(min(col("occ_key")).as("first_occ"))
        // new = batch-first hashes the ledger has never seen. Anti-join,
        // not left-join+flag: duplicate ledger rows (possible only in
        // the compaction crash window) must not multiply report rows.
        val newFirsts = readLedger(spark, stateDir + "/seen")
          .map(s => firsts.join(s.select(col("h")), Seq("h"), "left_anti"))
          .getOrElse(firsts).localCheckpoint(true)
        val perDoc = chunks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
        val keptAgg = chunks.join(newFirsts, Seq("h"))
          .where(col("occ_key") === col("first_occ"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_kept"),
            sum(conv(substring(col("h"), 1, 8), 16, 10).cast("long"))
              .as("kept_checksum"))
        perDoc.join(keptAgg, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_chunks"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            coalesce(col("kept_checksum"), lit(0L)).as("kept_checksum"))
          .write.mode("append").parquet(stateDir + "/report")
        // ledger' = ledger ∪ ONLY the new hashes (O(batch) publish)
        appendLedger(newFirsts.select(col("h")), stateDir + "/seen",
          batchId, compactEvery, epoch)
      }
      .start()
  }

  /** G19: STREAMING Markov transition matrix — E35 as continuous
    * analytics: events arrive in micro-batches, a per-user LAST-event
    * state (O(|users|) rows) plus a cumulative (state, next_state, n)
    * count table (O(states²)) persist across batches (the G14
    * write-new-then-rename rule), and each trigger re-emits the
    * cumulative matrix report. A batch's new transitions are exactly
    * the consecutive pairs of stored-last ∪ batch per user — the stored
    * row contributes only the boundary pair (one row per user, so no
    * pair lies wholly inside the state), and both passes run the SAME
    * `Relational.markovCountsOf`/`markovAssemble`, so under in-order
    * arrival the report equals the E35 batch pass over the prefix after
    * EVERY trigger (spec-pinned). State never grows with stream length
    * beyond the user set. */
  def markovStream(events: DataFrame, stateDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream.outputMode("append")
      .foreachBatch { (batch0: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        import org.apache.spark.sql.functions._
        val spark = batch0.sparkSession
        val batch = batch0.toDF()
          .select(col("user_id"), col("sec"), col("event_id"), col("event_type"))
        val last = readState(spark, stateDir + "/last").getOrElse(batch.limit(0))
        val uni = last.unionByName(batch).localCheckpoint(true)
        val fresh = graft.operators.Relational.markovCountsOf(uni)
        val counts = foldState(fresh, stateDir + "/counts",
          Seq("state", "next_state"))
        publishState(uni.groupBy(col("user_id"))
          .agg(max_by(struct(col("sec"), col("event_id"), col("event_type")),
            struct(col("sec"), col("event_id"))).as("s"))
          .select(col("user_id"), col("s.sec").as("sec"),
            col("s.event_id").as("event_id"), col("s.event_type").as("event_type")),
          stateDir + "/last")
        graft.operators.Relational.markovAssemble(counts)
          .write.mode("overwrite").parquet(stateDir + "/report")
        (): Unit
      }
      .start()

  /** G29: STREAMING top event paths — E59 as continuous path analytics:
    * per-user LAST-TWO-event state (≤ 2 rows per user) plus a
    * cumulative (path, n) cell table (O(|event types|³)) persist across
    * batches (the G19 boundary trick one step deeper: a 3-gram needs
    * three events and the stored tail holds two, so EVERY trigram of
    * stored-tail ∪ batch contains a batch event — no trigram is ever
    * double-counted), and each trigger re-emits the cumulative top-k
    * through the SAME `Relational.pathCellsOf`/`topPathsAssemble`
    * builders, so under in-order arrival the report equals the E59
    * batch pass over the prefix after EVERY trigger (spec-pinned).
    * State never grows with stream length. */
  def topPathsStream(events: DataFrame, stateDir: String, k: Int = 20)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream.outputMode("append")
      .foreachBatch { (batch0: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        import org.apache.spark.sql.functions._
        val spark = batch0.sparkSession
        val batch = batch0.toDF()
          .select(col("user_id"), col("event_id"), col("sec"), col("event_type"))
        val tail = readState(spark, stateDir + "/tail").getOrElse(batch.limit(0))
        val uni = tail.unionByName(batch).localCheckpoint(true)
        val fresh = graft.operators.Relational.pathCellsOf(uni)
        val cells = foldState(fresh, stateDir + "/cells", Seq("path"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("sec").desc, col("event_id").desc)
        publishState(uni.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2).drop("rn"), stateDir + "/tail")
        graft.operators.Relational.topPathsAssemble(cells, k)
          .write.mode("overwrite").parquet(stateDir + "/report")
        (): Unit
      }
      .start()

  /** G30: STREAMING Cramér's V — E56 as a continuous association
    * monitor: the (a, b) contingency cells accumulate in persisted
    * state (associative integer counts — any batch slicing folds to
    * the same table), and every trigger re-emits the effect size
    * through the SAME `Relational.cramersFromCells` assembly, so the
    * report equals the batch pass over the prefix bit-for-bit after
    * every trigger. A drifting V is a schema-semantics alarm: two
    * columns that used to determine each other (V≈1) decoupling means
    * an upstream join or mapping broke. State is O(r×c) forever. */
  def cramersStream(rows: DataFrame, stateDir: String,
      nameA: String, nameB: String): StreamingQuery =
    foldGate(rows, stateDir, "cells", Seq("a", "b")) {
      _.select(col("a"), col("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).cast("long").as("o"))
    }(graft.operators.Relational.cramersFromCells(_, nameA, nameB))

  /** G31: STREAMING winsorized/trimmed means — E58 as a continuous
    * robust-location monitor: the (flag, v) value cells accumulate in
    * persisted state (associative integer counts), and every trigger
    * re-runs the SAME `Relational.winsorizedFromCells` assembly —
    * type-1 boundary picks and exact integer means over the
    * accumulated cells — so the report equals the batch pass over the
    * prefix bit-for-bit after every trigger. State is value-bounded
    * (distinct cents per flag), never row-proportional. */
  def winsorizedStream(rows: DataFrame, stateDir: String): StreamingQuery =
    foldGate(rows, stateDir, "cells", Seq("flag", "v")) {
      _.select(col("flag"), col("v").cast("long"))
        .groupBy(col("flag"), col("v"))
        .agg(count(lit(1)).cast("long").as("cnt"))
    }(graft.operators.Relational.winsorizedFromCells)

  /** G21: STREAMING CUSUM — D40 as the always-on changepoint monitor:
    * each micro-batch of (source, day, md) dailies folds into a
    * persisted run-log state (the G14 write-new-then-rename rule;
    * state is RUN-LOG-sized — the batch op's own input scale, the G15
    * ledger argument), and every trigger re-emits the full trajectory
    * report by running the SAME `LoadOps.cusumOver` over the
    * accumulated state — the G16 cumulative-report pattern, so the
    * report equals the batch pass over the prefix after EVERY trigger
    * bit-for-bit (integer cents end to end, no float drift class). The
    * training-baseline rule needs no special streaming handling: the
    * shared core re-derives it from the accumulated history's first
    * days each trigger, exactly as the batch op would. */
  def cusumStream(daily: DataFrame, stateDir: String,
      kCents: Long = graft.operators.LoadOps.CusumKCents,
      hCents: Long = graft.operators.LoadOps.CusumHCents): StreamingQuery =
    foldGate(daily, stateDir, "dailies", Seq("source", "day")) {
      _.select(col("source"), col("day").cast("long"), col("md").cast("long"))
    }(graft.operators.LoadOps.cusumOver(_, kCents, hCents))

  /** G33: STREAMING Page–Hinkley — D58 as the always-on adaptive-mean
    * drift pager: per-(source, day) dailies fold into the shared
    * [[foldState]] store (run-log-sized, the G21 argument — each daily
    * row arrives once, the declared in-order contract), and every
    * trigger re-runs the SAME `LoadOps.pageHinkleyOver` pass over the
    * accumulated dailies, so the emitted trajectory equals the batch
    * operator over the prefix bit-for-bit after every trigger (exact
    * integer micro-cents end to end — no float drift class). Unlike the
    * G21 CUSUM twin, the baseline here is the RUNNING mean, so the
    * monitor self-calibrates as history accumulates — no training
    * horizon to configure. */
  def pageHinkleyStream(daily: DataFrame, stateDir: String,
      deltaCents: Long = graft.operators.LoadOps.PhDeltaCents,
      lambdaCents: Long = graft.operators.LoadOps.PhLambdaCents): StreamingQuery =
    foldGate(daily, stateDir, "dailies", Seq("source", "day")) {
      _.select(col("source"), col("day").cast("long"), col("md").cast("long"))
    }(graft.operators.LoadOps.pageHinkleyOver(_, deltaCents, lambdaCents))

  /** G34: STREAMING PSI — D61 as an always-on score-stability pager:
    * per-(source, day, cents) support cells fold through the shared
    * [[foldState]] store (value-support × horizon bounded — the cent
    * domain and the calendar cap the state, corpus volume only grows
    * the counts), and every trigger re-runs the SAME
    * [[graft.operators.LoadOps.psiCells]] assembly over the folded
    * total — window split and bin bounds recompute over everything
    * seen so far, so the report equals D61's batch pass over the
    * prefix bit-for-bit after EVERY trigger (integer cells in, one
    * order-pinned float fold out — no drift to accumulate). */
  def psiStream(cells: DataFrame, stateDir: String): StreamingQuery =
    foldGate(cells, stateDir, "cells", Seq("source", "day", "cents")) {
      _.groupBy(col("source"), col("day").cast("long").as("day"),
          col("cents").cast("long").as("cents"))
        .agg(count(lit(1)).cast("long").as("cnt"))
    }(graft.operators.LoadOps.psiCells)

  /** G35: STREAMING AUC — E63 as an always-on online classifier-eval:
    * per-(source, cents) cells carrying (positives, total) fold through
    * [[foldState]] (value-support-bounded state — the cent domain caps
    * the rows, volume only grows the counts), and every trigger re-ranks
    * the folded cells through the SAME [[graft.operators.Relational
    * .aucCells]] midrank assembly. Integer cells in, one fixed-shape
    * division out — the report equals E63's batch pass over the prefix
    * bit-for-bit after EVERY trigger. */
  def aucStream(labeled: DataFrame, stateDir: String): StreamingQuery =
    foldGate(labeled, stateDir, "cells", Seq("source", "cents"))(labeledCells)(
      graft.operators.Relational.aucCells)

  /** G36: STREAMING MANN–KENDALL — D60 as an always-on monotone-trend
    * pager: per-(source, day) exact integer (Σcents, n) moments fold
    * through [[foldState]] (run-log-sized state), each trigger recovers
    * the daily means by the SAME floor division the batch fold uses and
    * re-runs [[graft.operators.LoadOps.mannKendallOf]] — S, var18 and
    * the significance inequality are all exact integers, so the report
    * equals D60's batch pass over the prefix bit-for-bit after EVERY
    * trigger. */
  def mannKendallStream(cents: DataFrame, stateDir: String): StreamingQuery =
    foldGate(cents, stateDir, "dailies", Seq("source", "day")) {
      _.groupBy(col("source"), col("day").cast("long").as("day"))
        .agg(sum(col("cents")).cast("long").as("sum_cents"),
          count(lit(1)).cast("long").as("n"))
    } { total =>
      graft.operators.LoadOps.mannKendallOf(
        total.select(col("source"), col("day"), expr("sum_cents div n").as("md")))
    }

  /** G38: STREAMING FORECAST BACKTEST — D64 as the forecaster's
    * always-on report card: the same per-(source, day) exact (Σcents, n)
    * moments the G24 Holt stream folds, with each trigger re-running
    * holtOver AND the D64 error rollup over the full prefix — the
    * forecaster and its scorecard can never drift apart, and a
    * skill regression (MASE crossing 1) pages the trigger it happens.
    * All-integer end to end, so the report equals D64's batch pass over
    * the prefix bit-for-bit after EVERY trigger. */
  def forecastEvalStream(cents: DataFrame, stateDir: String,
      alphaPpm: Long = graft.operators.LoadOps.HoltAlphaPpm,
      betaPpm: Long = graft.operators.LoadOps.HoltBetaPpm,
      hCents: Long = graft.operators.LoadOps.HoltHCents,
      warmup: Int = graft.operators.LoadOps.HoltWarmup): StreamingQuery =
    foldGate(cents, stateDir, "moments", Seq("source", "day"))(dayMoments) { total =>
      graft.operators.LoadOps.forecastEvalOver(graft.operators.LoadOps.holtOver(
        dayMeans(total), alphaPpm, betaPpm, hCents, warmup))
    }

  /** G39: STREAMING CALIBRATION — D59 as the live reliability diagram:
    * the SAME (source, cents) → (positives, total) cells the G35 AUC
    * stream folds (discrimination and calibration are the two readings
    * of one state), re-assembled per trigger through
    * [[graft.operators.LoadOps.calibrationCells]] — all-integer midrank
    * micros, so the diagram equals D59's batch pass over the prefix
    * bit-for-bit after EVERY trigger. */
  def calibrationStream(labeled: DataFrame, stateDir: String): StreamingQuery =
    foldGate(labeled, stateDir, "cells", Seq("source", "cents"))(labeledCells)(
      graft.operators.LoadOps.calibrationCells)

  /** G37: STREAMING SRM — E64 as the always-on assignment-health pager
    * (an SRM that appears mid-experiment means the split BROKE mid-
    * experiment — exactly when a batch check wouldn't be looking):
    * distinct (group, user) units accumulate as [[foldState]] KEYS
    * (the value is a seen-count the report ignores) — unit-set union is
    * the one fold distinctness allows, so state is unit-set-sized, the
    * same class as the G17 novelty ledger; every trigger re-counts arms
    * through the SAME [[graft.operators.Relational.srmUnits]] all-integer
    * assembly, equal to E64's batch pass over the prefix after EVERY
    * trigger. */
  def srmStream(events: DataFrame, stateDir: String): StreamingQuery =
    foldGate(events, stateDir, "units", Seq("event_type", "user_id")) {
      _.groupBy(col("event_type"), col("user_id").cast("long").as("user_id"))
        .agg(count(lit(1)).cast("long").as("cnt"))
    }(total => graft.operators.Relational.srmUnits(
      total.select(col("event_type"), col("user_id"))))

  /** G20: STREAMING A/B test — E36 as sequential monitoring (the
    * always-on experiment dashboard): per-(event_type) arm sufficient
    * statistics accumulate as EXACT INTEGER cent-moments (n, Σcents,
    * Σcents²) in a persisted O(|groups|) state table (the G14
    * write-new-then-rename rule), and each trigger re-emits the verdict
    * via the SAME `Relational.abTtestFromCents` assembly the batch
    * recompute uses. Integer moments make accumulation associative with
    * zero float drift, so the report equals the one-shot pass over all
    * rows seen so far BIT-FOR-BIT after every trigger (spec-pinned) —
    * no rounding-boundary flake class at all. */
  def abTtestStream(events: DataFrame, stateDir: String): StreamingQuery =
    foldGate(events, stateDir, "moments", Seq("event_type"))(
      graft.operators.Relational.abCentMomentsOf)(
      graft.operators.Relational.abTtestFromCents)

  /** G18: STREAMING embedding drift — D36 as continuous monitoring: the
    * per-(label, dim, split) running (sum, count) moments accumulate in
    * a persisted state table (write-new-then-rename, the G14 rule), and
    * each batch re-emits the drift report from the TOTAL state — means
    * are exactly recoverable from moments, so the report equals the
    * batch pass over all rows seen so far (spec-pinned; the rounded
    * 4-dec cosine absorbs summation-order noise). State is
    * O(|labels|·dims·2) regardless of stream length; the report
    * assembly is the SAME `Similarity.driftReport` the batch op uses. */
  def embeddingDriftStream(vecs: DataFrame, stateDir: String, bar: Double = 0.8)
      : StreamingQuery =
    foldGate(vecs, stateDir, "moments", Seq("label", "pos", "is_cur")) {
      _.withColumn("is_cur", col("vec_id") % 5 === 0)
        .select(col("label"), col("is_cur"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos"), col("is_cur"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("c"))
    } { merged =>
      val byDim = merged.groupBy(col("label"), col("pos"))
        .agg((sum(when(!col("is_cur"), col("s"))) /
            sum(when(!col("is_cur"), col("c")))).as("rc"),
          (sum(when(col("is_cur"), col("s"))) /
            sum(when(col("is_cur"), col("c")))).as("cc"))
      val counts = merged.filter(col("pos") === 0)
        .groupBy(col("label"))
        .agg(sum(when(!col("is_cur"), col("c")).otherwise(0L)).cast("long").as("n_ref"),
          sum(when(col("is_cur"), col("c")).otherwise(0L)).cast("long").as("n_cur"))
      graft.operators.Similarity.driftReport(byDim, counts, bar)
    }

  /** G17: STREAMING novelty scoring — F60 as corpus INGEST (the G15
    * ledger pattern on gram hashes instead of chunk hashes): documents
    * arrive in micro-batches, a persisted gram-owner ledger carries the
    * first-seen gram set across batches, and each batch emits its docs'
    * novelty reports immediately. A gram is novel for a doc iff the
    * ledger has never seen it AND the doc is the batch's first carrier
    * (batch-local min doc_id) — which equals F60's global min-owner rule
    * exactly when docs arrive in id order (spec-pinned). State is
    * O(distinct grams) in the [[appendLedger]] base+delta layout: each
    * trigger writes ONLY the batch's never-seen gram hashes (O(batch)
    * publish — the r12 full-rewrite was quadratic over the ingest) and
    * reads the ledger through one anti-join. */
  def noveltyStream(docs: DataFrame, stateDir: String, k: Int = 8,
      compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val epoch = java.util.UUID.randomUUID().toString.take(8)
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import org.apache.spark.sql.functions._
        import graft.operators.TextAnalysis
        val spark = batch.sparkSession
        val grams = batch.toDF()
          .select(col("doc_id"),
            explode(TextAnalysis.wordGrams(TextAnalysis.tokens(col("text")), k)).as("gram"))
          .select(col("doc_id"), xxhash64(col("gram")).as("gh"))
          .distinct().localCheckpoint(true)
        val firsts = grams.groupBy(col("gh")).agg(min(col("doc_id")).as("first_doc"))
        // anti-join (duplicate-tolerant, see paragraphDedupStream): the
        // grams the ledger has never seen, owned by their batch-first doc
        val newFirsts = readLedger(spark, stateDir + "/seen")
          .map(s => firsts.join(s.select(col("gh")), Seq("gh"), "left_anti"))
          .getOrElse(firsts).localCheckpoint(true)
        val perDoc = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_distinct"))
        val novelAgg = grams.join(newFirsts, Seq("gh"))
          .where(col("doc_id") === col("first_doc"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
        perDoc.join(novelAgg, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_distinct"),
            coalesce(col("n_novel"), lit(0L)).as("n_novel"))
          .withColumn("novelty_ppm",
            expr("n_novel * 1000000 div greatest(n_distinct, 1)"))
          .write.mode("append").parquet(stateDir + "/report")
        appendLedger(newFirsts.select(col("gh")), stateDir + "/seen",
          batchId, compactEvery, epoch)
      }
      .start()
  }

  /** G25: STREAMING exact heavy hitters — E29 as the always-on hot-key
    * dashboard: per-key counts accumulate in persisted state (the one
    * truly associative statistic — integer adds), and every trigger
    * re-emits the verdict through the SAME
    * `Relational.heavyHittersFromCounts` filter over the accumulated
    * counts and total, so the report equals the batch op over the
    * prefix after every trigger. State is O(|distinct keys|) — the
    * exact-count tradeoff; the bounded-memory alternative is the CMS
    * stream (G5), this form is the exact one. */
  def heavyHittersStream(events: DataFrame, stateDir: String, k: Int = 150)
      : StreamingQuery =
    foldGate(events, stateDir, "counts", Seq("user_id")) {
      _.select(col("user_id").cast("long").as("user_id"))
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    } { total =>
      // coalesce: an empty first micro-batch has no rows to sum — the
      // grand total must be 0, not a null that kills the stream
      val n = total.agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
      graft.operators.Relational.heavyHittersFromCounts(total, n, k)
    }

  /** G24: STREAMING Holt forecast — D43 as the always-on trend pager:
    * (source, day, Σcents, n) moments accumulate in persisted state
    * (associative integers — a day split across micro-batches folds to
    * the same daily metric), and every trigger re-runs the SAME
    * `LoadOps.holtOver` fold over the accumulated dailies, so the
    * emitted trajectory equals the batch pass over the prefix
    * bit-for-bit. The order-dependent recurrence needs no incremental
    * state beyond the dailies themselves — the fold is run-log-sized,
    * the G21 argument. */
  def holtStream(events: DataFrame, stateDir: String,
      alphaPpm: Long = graft.operators.LoadOps.HoltAlphaPpm,
      betaPpm: Long = graft.operators.LoadOps.HoltBetaPpm,
      hCents: Long = graft.operators.LoadOps.HoltHCents,
      warmup: Int = graft.operators.LoadOps.HoltWarmup): StreamingQuery =
    foldGate(events, stateDir, "moments", Seq("source", "day"))(dayMoments) { total =>
      graft.operators.LoadOps.holtOver(dayMeans(total), alphaPpm, betaPpm, hCents, warmup)
    }

  /** G22: STREAMING seasonal monitor — D41 as the always-on weekday
    * pager: per-(source, day) integer (Σcents, n) moments accumulate in
    * a persisted state table (the G14 write-new-then-rename rule; state
    * is |source·days|-sized — the batch op's own rollup scale), the
    * daily metric `Σ div n` is re-derived from TOTAL moments each
    * trigger (associative integers — a day split across micro-batches
    * folds to the same md as the one-shot pass), and the report runs
    * the SAME `LoadOps.seasonalOf` core, so it equals the batch pass
    * over the prefix after EVERY trigger bit-for-bit. The training
    * horizon needs no streaming special case: the shared core re-derives
    * it from the accumulated history's min day each time. */
  def seasonalStream(events: DataFrame, stateDir: String,
      trainDays: Long = graft.operators.LoadOps.SeasonalTrainDays,
      hCents: Long = graft.operators.LoadOps.SeasonalHCents): StreamingQuery =
    foldGate(events, stateDir, "moments", Seq("source", "day"))(dayMoments)(
      total => graft.operators.LoadOps.seasonalOf(dayMeans(total), trainDays, hCents))

  /** G28: STREAMING Hampel filter — D55 as the always-on robust outlier
    * pager: per-(source, day) cent sums and counts accumulate in a
    * persisted state table (associative integers — a day split across
    * micro-batches folds to the same daily metric no matter where the
    * batch boundaries land), and every trigger re-runs the SAME
    * `LoadOps.hampelOver` pass over the accumulated dailies, so the
    * emitted alarm set equals the batch operator over the prefix
    * bit-for-bit after every trigger. State is run-log-sized — the G21
    * argument: the trailing-window recompute is cells×window bounded,
    * never event-proportional. */
  def hampelStream(events: DataFrame, stateDir: String,
      winDays: Int = graft.operators.LoadOps.HampelWindow,
      minWin: Int = graft.operators.LoadOps.HampelMinWin): StreamingQuery =
    foldGate(events, stateDir, "moments", Seq("source", "day"))(dayMoments)(
      total => graft.operators.LoadOps.hampelOver(dayMeans(total), winDays, minWin))

  /** G23: STREAMING Benford screen — D42 as continuous forensics: the
    * per-(source, digit) occurrence counts accumulate in a persisted
    * state table (integer counts — associative, zero drift), and each
    * trigger re-emits the verdict through the SAME
    * `LoadOps.benfordFromCounts` assembly the batch op uses, so the
    * flag equals the one-shot pass over all rows seen so far after
    * every trigger bit-for-bit. State is O(|sources|·9) regardless of
    * stream length. */
  def benfordStream(rows: DataFrame, stateDir: String, flagBar: Long = 50000L)
      : StreamingQuery =
    foldGate(rows, stateDir, "counts", Seq("source", "digit"))(
      graft.operators.LoadOps.benfordCountsOf)(
      graft.operators.LoadOps.benfordFromCounts(_, flagBar))
}
