package graftbench

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** One timed operation: its kind, wall seconds, rows it produced or
  * consumed, and whether its output passed the check. */
final case class Op(kind: String, secs: Double, rows: Long, ok: Boolean)

/** What every workload shares: the session, the seed, the run's private
  * scratch root and the tracer (spans are no-ops while tracing is off). */
final case class Ctx(spark: SparkSession, seed: Long, sf: Double, seconds: Int,
    scratch: String, tracer: Tracer, traced: Boolean) {
  def fs: FileSystem = new Path(scratch).getFileSystem(spark.sparkContext.hadoopConfiguration)
  def path(name: String): String = s"$scratch/$name"
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** A closed-loop workload: one driver thread issues the next operation
  * only after the previous one returned. */
trait Workload {
  /** Input tables the workload reads. */
  def tables: Seq[String]
  /** Stage workload-specific files from the inputs in `dir`. */
  def prepare(dir: String): Unit
  /** One-time start (streaming queries, session confs) and warm passes. */
  def warm(): Unit
  /** One pass of the workload's fixed operation set. */
  def pass(i: Int): Seq[Op]
  /** True once the pre-staged inputs are used up. */
  def exhausted: Boolean = false
  /** End-of-run output checks: (check name, passed, failed-op count). */
  def finish(): Seq[(String, Boolean, Int)]
  /** Workload-specific per-layer figures from the traced passes, given
    * the engine-wide per-pass figures in `generic`. */
  def layerMetrics(tracedPasses: Int, generic: Map[String, Double]): Seq[(String, Double, String)] = Nil
}

object Workload {
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Order-independent content hash: row count, sum and xor of row
    * hashes, with floating columns rounded to 6 decimals first. */
  def contentHash(df: DataFrame): (Long, Long, Long) = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(s"`${f.name}`"), 6)
        case _ => col(s"`${f.name}`")
      }
    }
    val h = xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(1000000007L))), bit_xor(col("h"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** Self time per span name, per traced pass: the span's duration minus
    * the part of it covered by its direct children. */
  def spanSelfTimes(spans: Seq[Span], passes: Int): Map[String, (Double, Double)] = {
    val byParent = spans.groupBy(_.parent)
    spans.filterNot(_.name.startsWith("spark.job")).groupBy(_.name).map { case (n, ss) =>
      val total = ss.map(s => s.end - s.start).sum
      val self = ss.map { s =>
        val kids = byParent.getOrElse(s.id, Nil).map(k => (math.max(k.start, s.start),
          math.min(k.end, s.end))).filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var cs = -1L; var ce = -1L
        kids.foreach { case (a, b) =>
          if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b } else ce = math.max(ce, b)
        }
        if (ce > cs) covered += ce - cs
        (s.end - s.start) - covered
      }.sum
      n -> (total / 1e6 / passes, self / 1e6 / passes)
    }
  }
}
