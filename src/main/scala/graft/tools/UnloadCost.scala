package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** r18 forensics (VERDICT r17 item 1): `StreamGate.runSized` calls
  * `GraftShims.unloadStateStores()` INSIDE the timed region (the gate's
  * finally block) — this tool measures that call's cost in isolation, in
  * both states a gate can leave behind: providers LOADED (a completed
  * stateful availableNow query, the worst case) and the provider cache
  * EMPTY (what every foreachBatch fold gate sees — they have no stateful
  * operators, so the unload is a no-op there).
  *
  * Usage: runMain graft.tools.UnloadCost
  */
object UnloadCost {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = "/tmp/graft_unload_cost"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(base))
    spark.range(100000L)
      .select(timestamp_seconds(col("id") % 3600L).as("ts"),
        (col("id") % 5L).cast("string").as("k"), col("id").cast("double").as("v"))
      .write.parquet(s"$base/in")
    (1 to 5).foreach { i =>
      val src = spark.readStream
        .schema("ts timestamp, k string, v double").parquet(s"$base/in")
      val q = src.withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("k"))
        .agg(count(lit(1)).as("n"))
        .writeStream.outputMode("complete")
        .format("memory").queryName(s"unload_cost_$i")
        .option("checkpointLocation", s"$base/ckpt$i")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val t0 = System.nanoTime()
      org.apache.spark.sql.GraftShims.unloadStateStores()
      val t1 = System.nanoTime()
      org.apache.spark.sql.GraftShims.unloadStateStores()
      val t2 = System.nanoTime()
      println(f"run$i: unload(loaded 8 providers) ${(t1 - t0) / 1e6}%.3f ms, " +
        f"unload(empty) ${(t2 - t1) / 1e6}%.3f ms")
    }
    spark.stop()
  }
}
