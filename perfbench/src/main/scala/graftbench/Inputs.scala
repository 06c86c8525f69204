package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input tables in the engine's testdata layout: one single-file
  * parquet per table, the same names, columns and types, with values drawn
  * from the same ranges. Every value is a hash of (seed, column tag, row
  * id), so one seed always yields byte-identical tables and another seed
  * yields different values of the same shape.
  *
  * `sf` is the TPC-H-style scale: lineitem has 6,000,000 × sf rows, and
  * the other tables keep the testdata's ratios to it. */
final class Inputs(spark: SparkSession, seed: Long, sf: Double) {
  private def rows(perSf: Double, floor: Long = 1L): Long =
    math.max(floor, math.round(perSf * sf))

  val nCustomer: Long = rows(150000)
  val nSupplier: Long = rows(10000, 25)
  val nPart: Long = rows(200000)
  val nOrders: Long = rows(1500000)
  val nLineitem: Long = rows(6000000)
  val nEvents: Long = rows(1000000)
  val nDocuments: Long = rows(50000, 20)

  /** Uniform draw in [0, m) for column tag `tag` of row `id`. */
  private def draw(tag: Int, m: Long): Column =
    pmod(xxhash64(lit(seed), lit(tag), col("id")), lit(m))

  private def pick(tag: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (draw(tag, values.size) + 1).cast("int"))

  private def cents(tag: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + draw(tag, math.round((hi - lo) * 100)) / 100.0, 2)

  private def day(tag: Int, from: String, days: Int): Column =
    to_timestamp_ntz(date_add(lit(from).cast("date"), draw(tag, days).cast("int")).cast("string"))

  def region: DataFrame = spark.range(5).select(
    col("id").cast("int").as("r_regionkey"),
    element_at(array(Inputs.Regions.map(lit): _*), (col("id") + 1).cast("int")).as("r_name"))

  def nation: DataFrame = spark.range(25).select(
    col("id").cast("int").as("n_nationkey"),
    concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
    (col("id") % 5).cast("int").as("n_regionkey"))

  def customer: DataFrame = spark.range(nCustomer).select(
    col("id").as("c_custkey"),
    format_string("Customer#%09d", col("id")).as("c_name"),
    draw(1, 25).cast("int").as("c_nationkey"),
    cents(2, 0, 10000).as("c_acctbal"),
    pick(3, Inputs.Segments).as("c_mktsegment"))

  def supplier: DataFrame = spark.range(nSupplier).select(
    col("id").as("s_suppkey"),
    format_string("Supplier#%09d", col("id")).as("s_name"),
    draw(11, 25).cast("int").as("s_nationkey"),
    cents(12, 0, 10000).as("s_acctbal"))

  def part: DataFrame = spark.range(nPart).select(
    col("id").as("p_partkey"),
    concat_ws(" ", pick(21, Inputs.Colors), pick(22, Inputs.Nouns)).as("p_name"),
    concat(lit("Brand#"), (draw(23, 25) + 1).cast("string")).as("p_brand"),
    pick(24, Inputs.Types).as("p_type"),
    (draw(25, 50) + 1).cast("int").as("p_size"),
    round(lit(900.0) + (col("id") % 20000) / 10.0, 2).as("p_retailprice"))

  def orders: DataFrame = spark.range(nOrders).select(
    col("id").as("o_orderkey"),
    draw(31, nCustomer).as("o_custkey"),
    pick(32, Seq("F", "O", "P")).as("o_orderstatus"),
    cents(33, 1000, 500000).as("o_totalprice"),
    day(34, "1995-01-01", 2404).as("o_orderdate"),
    pick(35, Inputs.Priorities).as("o_orderpriority"))

  def lineitem: DataFrame = spark.range(nLineitem).select(
    draw(41, nOrders).as("l_orderkey"),
    draw(42, nPart).as("l_partkey"),
    draw(43, nSupplier).as("l_suppkey"),
    (draw(44, 7) + 1).cast("int").as("l_linenumber"),
    (draw(45, 50) + 1).cast("double").as("l_quantity"),
    cents(46, 900, 105000).as("l_extendedprice"),
    (draw(47, 11) / 100.0).as("l_discount"),
    (draw(48, 9) / 100.0).as("l_tax"),
    pick(49, Seq("R", "A", "N")).as("l_returnflag"),
    pick(50, Seq("O", "F")).as("l_linestatus"),
    day(51, "1995-01-02", 2498).as("l_shipdate"))

  /** Event times rise with `event_id` across 30 days (the testdata's
    * arrival-ordered stream), with sub-interval jitter. */
  def events: DataFrame = {
    val spanMicros = 30L * 86400L * 1000000L
    val step = math.max(1L, spanMicros / math.max(1L, nEvents))
    spark.range(nEvents).select(
      col("id").as("event_id"),
      to_timestamp_ntz(from_unixtime(lit(Inputs.EventEpoch) +
        ((col("id") * step + draw(61, step)) / 1000000L).cast("long"))).as("ts"),
      draw(62, math.max(1L, nEvents / 66)).as("user_id"),
      pick(63, Inputs.EventTypes).as("event_type"),
      round(pow(draw(64, 1000000) / 1000000.0, 2) * 560.0, 2).as("value"),
      concat(lit("{\"k\": "), draw(65, 100).cast("string"), lit("}")).as("props"))
  }

  /** Word-salad documents over the testdata's vocabulary; every tenth
    * document repeats its predecessor's text, so dedup finds copies. */
  def documents: DataFrame = {
    val textKey = when(col("id") % 10 === 3, col("id") - 1).otherwise(col("id"))
    val word = (i: Column) => element_at(array(Inputs.Vocabulary.map(lit): _*),
      (pmod(xxhash64(lit(seed), lit(71), textKey, i), lit(Inputs.Vocabulary.size.toLong)) + 1)
        .cast("int"))
    val nWords = pmod(xxhash64(lit(seed), lit(72), textKey), lit(80L)) + 10
    spark.range(nDocuments)
      .select(col("id").as("doc_id"),
        array_join(transform(sequence(lit(1L), nWords), word), " ").as("text"),
        pick(73, Inputs.Langs).as("lang"),
        concat(lit("src"), draw(74, 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def table(name: String): DataFrame = name match {
    case "region" => region
    case "nation" => nation
    case "customer" => customer
    case "supplier" => supplier
    case "part" => part
    case "orders" => orders
    case "lineitem" => lineitem
    case "events" => events
    case "documents" => documents
  }

  /** Write `names` under `dir` as `<name>.parquet`, one file each. */
  def write(dir: String, names: Seq[String]): Unit =
    names.foreach(n => table(n).coalesce(1).write.mode("overwrite").parquet(s"$dir/$n.parquet"))
}

object Inputs {
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Colors = Seq("large", "hot", "blue", "green", "small", "red", "cold", "dark")
  val Nouns = Seq("ring", "bolt", "nut", "gear", "pipe", "valve", "plate", "spring")
  val Types = Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM")
  val EventTypes = Seq("click", "view", "purchase", "signup", "error")
  val Langs = Seq("en", "en", "en", "de", "fr", "es", "zh")
  val Vocabulary = Seq("a", "the", "batch", "part", "spark", "line", "column", "order",
    "small", "big", "sort", "fast", "slow", "value", "scan", "hash", "group", "agg",
    "filter", "query", "key", "window", "row", "table", "stream", "merge", "data",
    "join", "vector", "customer")
  /** 2024-01-01T00:00:00Z, the first testdata event second. */
  val EventEpoch = 1704067200L
  val All = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents")
}
