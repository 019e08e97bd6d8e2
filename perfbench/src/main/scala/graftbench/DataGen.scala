package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the ten tables graft's operators read (the schema
  * of the TPC-H-ish test data: region … lineitem, events, documents,
  * embeddings). Every value is a pure function of (seed, table, row id,
  * column), computed with xxhash64, so the same seed writes the same rows on
  * any core count. Row counts follow the scale factor `sf` (lineitem has
  * 6 M × sf rows). Each table is written as `files` parquet files of one
  * row group each; the single-file layout is the one graft's test data
  * ships, and the one that puts a table on the fan-out side of
  * `Tables.maybeFanout`.
  */
object DataGen {
  val Vocab: Seq[String] = Seq("query", "row", "stream", "the", "spark",
    "line", "small", "fast", "group", "customer", "batch", "sort", "value",
    "hash", "filter", "big", "data", "part", "column", "order", "scan", "a",
    "slow", "agg", "key", "window", "table", "merge", "vector", "join")

  val AllTables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** One generated table, not yet written. */
  def table(spark: SparkSession, seed: Long, sf: Double, name: String): DataFrame =
    new DataGen(spark, seed, sf).table(name)

  /** Writes `tables` under `dir`, each as `files` parquet files (the two
    * tiny dimensions always as one), and returns the parquet bytes written.
    */
  def write(spark: SparkSession, dir: String, seed: Long, sf: Double,
      files: Int, tables: Seq[String] = AllTables): Long = {
    // Generated four-wide and written as `files` files. The round-robin
    // repartition needs no sort here: row contents do not depend on order.
    val key = "spark.sql.execution.sortBeforeRepartition"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try tables.foreach { name =>
      val n = if (name == "region" || name == "nation") 1 else files
      new DataGen(spark, seed, sf).table(name).repartition(n)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    Files.bytesUnder(new java.io.File(dir))
  }
}

private class DataGen(spark: SparkSession, seed: Long, sf: Double) {
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
    case "embeddings" => embeddings
  }

  private def rows(base: Double): Long = math.max(1L, math.round(base * sf))
  private val nCust = rows(150000)
  private val nSupp = rows(10000)
  private val nPart = rows(200000)
  private val nOrders = rows(1500000)
  private val nLine = rows(6000000)
  private val nEvents = rows(1000000)
  private val nUsers = rows(15000)
  private val nDocs = rows(50000)

  /** Uniform double in [0, 1) for column `tag` of the row with id `id`. */
  private def u(tag: String, id: Column = col("id")): Column =
    pmod(xxhash64(lit(seed), lit(tag), id), lit(1L << 52)).cast("double") /
      lit((1L << 52).toDouble)
  private def int(tag: String, n: Long, id: Column = col("id")): Column =
    floor(u(tag, id) * n).cast("long")
  private def pick(tag: String, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (int(tag, xs.size) + 1).cast("int"))
  private def range(n: Long) = spark.range(0, n, 1, 4)
  private def microsBetween(tag: String, from: String, days: Long): Column =
    (unix_micros(lit(from).cast("timestamp")) +
      int(tag, days) * lit(86400L * 1000000L))

  def region: DataFrame = range(5).select(col("id").cast("int").as("r_regionkey"),
    element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
      "MIDDLE EAST").map(lit): _*), (col("id") + 1).cast("int")).as("r_name"))

  def nation: DataFrame = range(25).select(col("id").cast("int").as("n_nationkey"),
    concat(lit("NATION_"), col("id")).as("n_name"),
    (col("id") % 5).cast("int").as("n_regionkey"))

  def customer: DataFrame = range(nCust).select(col("id").as("c_custkey"),
    format_string("Customer#%09d", col("id")).as("c_name"),
    int("c_nation", 25).cast("int").as("c_nationkey"),
    round(lit(-999.99) + u("c_acctbal") * 10999.98, 2).as("c_acctbal"),
    pick("c_seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")).as("c_mktsegment"))

  def supplier: DataFrame = range(nSupp).select(col("id").as("s_suppkey"),
    format_string("Supplier#%09d", col("id")).as("s_name"),
    int("s_nation", 25).cast("int").as("s_nationkey"),
    round(lit(-999.99) + u("s_acctbal") * 10999.98, 2).as("s_acctbal"))

  def part: DataFrame = range(nPart).select(col("id").as("p_partkey"),
    concat_ws(" ",
      pick("p_adj", Seq("small", "large", "red", "blue", "hot", "cold",
        "old", "new")),
      pick("p_noun", Seq("ring", "widget", "bolt", "plate", "gear", "nut",
        "screw", "valve"))).as("p_name"),
    concat(lit("Brand#"), int("p_brand", 25) + 1).as("p_brand"),
    pick("p_type", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
      "STANDARD")).as("p_type"),
    (int("p_size", 50) + 1).cast("int").as("p_size"),
    (lit(900.0) + int("p_price", 1000) / 10.0).as("p_retailprice"))

  def orders: DataFrame = range(nOrders).select(col("id").as("o_orderkey"),
    int("o_cust", nCust).as("o_custkey"),
    pick("o_status", Seq("F", "O", "P")).as("o_orderstatus"),
    round(lit(1000.0) + u("o_price") * 499000.0, 2).as("o_totalprice"),
    timestamp_micros(microsBetween("o_date", "1995-01-01", 2404))
      .cast("timestamp_ntz").as("o_orderdate"),
    pick("o_prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW")).as("o_orderpriority"))

  def lineitem: DataFrame = range(nLine).select(
    int("l_order", nOrders).as("l_orderkey"),
    int("l_part", nPart).as("l_partkey"),
    int("l_supp", nSupp).as("l_suppkey"),
    (int("l_line", 7) + 1).cast("int").as("l_linenumber"),
    (int("l_qty", 50) + 1).cast("double").as("l_quantity"),
    round(lit(900.0) + u("l_price") * 104099.0, 2).as("l_extendedprice"),
    (int("l_disc", 11) / 100.0).as("l_discount"),
    (int("l_tax", 9) / 100.0).as("l_tax"),
    pick("l_rflag", Seq("A", "N", "R")).as("l_returnflag"),
    pick("l_lstatus", Seq("F", "O")).as("l_linestatus"),
    timestamp_micros(microsBetween("l_ship", "1995-01-02", 2498))
      .cast("timestamp_ntz").as("l_shipdate"))

  def events: DataFrame = range(nEvents).select(col("id").as("event_id"),
    timestamp_micros(unix_micros(lit("2024-01-01").cast("timestamp")) +
      int("e_ts", 30L * 86400L * 1000000L)).cast("timestamp_ntz").as("ts"),
    int("e_user", nUsers).as("user_id"),
    pick("e_type", Seq("click", "error", "purchase", "signup", "view"))
      .as("event_type"),
    (int("e_value", 56022) / 100.0).as("value"),
    concat(lit("{\"k\": "), int("e_props", 100), lit("}")).as("props"))

  /** Texts of 8–100 vocabulary words. One document in twenty repeats the
    * text of its predecessor, half of those with one word appended, so the
    * dedup operators find exact and near duplicates.
    */
  def documents: DataFrame = {
    val dup = u("d_dup") < 0.05
    val src = when(dup, col("id") - 1).otherwise(col("id"))
    val nWords = int("d_len", 93, src) + 8
    val words = transform(sequence(lit(1L), nWords), i =>
      element_at(array(DataGen.Vocab.map(lit): _*),
        (pmod(xxhash64(lit(seed), lit("d_word"), src, i), lit(DataGen.Vocab.size.toLong)) + 1)
          .cast("int")))
    val base = array_join(words, " ")
    val text = when(dup && u("d_near") < 0.5, concat(base, lit(" dup")))
      .otherwise(base)
    range(nDocs).select(col("id").as("doc_id"), text.as("text"),
      pick("d_lang", Seq("en", "en", "en", "en", "de", "es", "fr", "zh"))
        .as("lang"),
      concat(lit("src"), int("d_src", 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Unit-norm 64-d float vectors around ten label centroids. */
  def embeddings: DataFrame = {
    val label = int("v_label", 10)
    def gauss(tag: String, key: Column, i: Column): Column =
      (pmod(xxhash64(lit(seed), lit(tag), key, i), lit(1L << 20)).cast("double") /
        lit((1L << 20).toDouble)) - 0.5
    val raw = transform(sequence(lit(0), lit(63)), i =>
      gauss("v_centre", label, i) + gauss("v_noise", col("id"), i) * 0.6)
    val norm = sqrt(aggregate(raw, lit(0.0), (acc, x) => acc + x * x))
    range(nDocs).select(col("id").as("vec_id"),
      transform(raw, x => (x / norm).cast("float")).as("embedding"),
      label.cast("int").as("label"))
  }
}

object Files {
  /** Bytes of the parquet data files under `dir`, recursively. */
  def bytesUnder(dir: java.io.File): Long = dataFiles(dir).map(_.length).sum

  def dataFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Nil
    }
}
