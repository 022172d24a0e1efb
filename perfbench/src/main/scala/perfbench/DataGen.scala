package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Writes the benchmark's input tables: the ten tables the program's
  * queries read (a TPC-H-like star schema plus `events`, `documents` and
  * `embeddings`), at the sizes of the program's sf0.1 test scale (600k
  * lineitem rows, 100k events).
  *
  * The tables belong to the benchmark, not to the program, so a change
  * to the program cannot change what it is measured on. Every value is
  * derived from the row id through `xxhash64`, so the output is the same
  * on every run and for any partitioning. Each table is one parquet file
  * with one row group, and timestamps are written without a time zone,
  * the physical layout of the program's test data.
  *
  * Usage: perfbench.DataGen <outDir>
  */
object DataGen {
  private val nCust = 15000L
  private val nSupp = 1000L
  private val nPart = 20000L
  private val nOrders = 150000L
  private val nEvents = 100000L
  private val nUsers = 1500L
  private val nDocs = 5000L
  private val nVecs = 2000L

  private def h(id: Column, tag: Int): Column = xxhash64(id, lit(tag))
  private def pick(id: Column, tag: Int, n: Long): Column = pmod(h(id, tag), lit(n))
  private def unit(id: Column, tag: Int): Column =
    pick(id, tag, 1000000L).cast("double") / 1e6
  private def oneOf(id: Column, tag: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (pick(id, tag, values.size.toLong) + 1).cast("int"))
  private def day(id: Column, tag: Int, days: Long): Column =
    (lit("1995-01-01 00:00:00").cast("timestamp_ntz") +
      make_dt_interval(pick(id, tag, days))).cast("timestamp_ntz")

  def main(args: Array[String]): Unit = {
    val Array(outDir) = args
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try write(spark, outDir) finally spark.stop()
  }

  def write(spark: SparkSession, outDir: String): Unit = {
    import spark.implicits._
    val id = col("id")
    def one(df: DataFrame, name: String): Unit = {
      val tmp = s"$outDir/.$name"
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", 64 * 1024 * 1024).parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written for $name"))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$outDir/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }

    one(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name"), "region")
    one(spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"),
      pmod(id, lit(5)).cast("int").as("n_regionkey")), "nation")
    one(spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pick(id, 11, 25).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + unit(id, 12) * 11000.0, 2).as("c_acctbal"),
      oneOf(id, 13, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")), "customer")
    one(spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      pick(id, 21, 25).cast("int").as("s_nationkey"),
      round(lit(-1000.0) + unit(id, 22) * 11000.0, 2).as("s_acctbal")),
      "supplier")
    one(spark.range(nPart).select(id.as("p_partkey"),
      concat_ws(" ",
        oneOf(id, 31, Seq("large", "hot", "blue", "small", "dark", "quick",
          "shiny", "cold")),
        oneOf(id, 32, Seq("ring", "bolt", "case", "drum", "gear", "pipe",
          "disk", "cable"))).as("p_name"),
      concat(lit("Brand#"), pick(id, 33, 20) + 1).as("p_brand"),
      oneOf(id, 34, Seq("LARGE", "ECONOMY", "MEDIUM", "STANDARD", "PROMO",
        "SMALL")).as("p_type"),
      (pick(id, 35, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pick(id, 36, 1000).cast("double") / 10.0, 2)
        .as("p_retailprice")), "part")

    one(spark.range(nOrders).select(id.as("o_orderkey"),
      pick(id, 41, nCust).as("o_custkey"),
      oneOf(id, 42, Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + unit(id, 43) * 499000.0, 2).as("o_totalprice"),
      day(id, 44, 2404).as("o_orderdate"),
      oneOf(id, 45, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")), "orders")

    // 1 + hash % 7 lines per order: about 4 lines per order on average
    val lines = spark.range(nOrders).select(id.as("l_orderkey"),
      explode(sequence(lit(1), (pick(id, 51, 7) + 1).cast("int")))
        .as("l_linenumber"))
    val k = xxhash64(col("l_orderkey"), col("l_linenumber"))
    one(lines.select(col("l_orderkey"),
      pick(k, 52, nPart).as("l_partkey"),
      pick(k, 53, nSupp).as("l_suppkey"),
      col("l_linenumber"),
      (pick(k, 54, 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + pick(k, 55, 1041000).cast("double") / 10.0, 2)
        .as("l_extendedprice"),
      round(pick(k, 56, 11).cast("double") / 100.0, 2).as("l_discount"),
      round(pick(k, 57, 9).cast("double") / 100.0, 2).as("l_tax"),
      oneOf(k, 58, Seq("A", "N", "R")).as("l_returnflag"),
      oneOf(k, 59, Seq("O", "F")).as("l_linestatus"),
      day(k, 60, 2500).as("l_shipdate")), "lineitem")

    one(spark.range(nEvents).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        (unit(id, 61) * 30.0 * 86400.0 * 1e6).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      pick(id, 62, nUsers).as("user_id"),
      oneOf(id, 63, Seq("click", "view", "purchase", "signup", "error"))
        .as("event_type"),
      round(-log(greatest(unit(id, 64), lit(1e-9))) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), pick(id, 65, 100), lit("}")).as("props")),
      "events")

    // documents: 8..105 words from a 30-word vocabulary; every 625th
    // document repeats its predecessor and about 1 in 150 carries a
    // 'dup dup' tail, so the dedup queries find exact and near duplicates
    val vocab = array(Seq("spark", "window", "merge", "table", "column",
      "vector", "stream", "value", "data", "small", "join", "filter", "big",
      "group", "hash", "customer", "sort", "order", "slow", "line", "part",
      "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
      .map(lit): _*)
    val src = when(pmod(id, lit(625)) === 1, id - 1).otherwise(id)
    val words = concat_ws(" ", transform(
      sequence(lit(1), (pick(src, 71, 98) + 8).cast("int")),
      j => element_at(vocab, (pmod(xxhash64(src, lit(72), j), lit(30)) + 1)
        .cast("int"))))
    val text = when(pick(src, 73, 150) === 0, concat(words, lit(" dup dup")))
      .otherwise(words)
    one(spark.range(nDocs).select(id.as("doc_id"), text.as("text"),
      oneOf(id, 74, Seq("en", "en", "en", "en", "zh", "es", "fr", "de"))
        .as("lang"),
      concat(lit("src"), pick(id, 75, 20)).as("source"),
      length(text).cast("long").as("n_chars")), "documents")

    // embeddings: 64-dim unit vectors around 10 label centroids
    val label = pick(id, 81, 10).cast("int")
    val raw = transform(sequence(lit(0), lit(63)), j =>
      sin(label.cast("double") * 7.3 + j.cast("double") * 0.61) * 3.0 +
        (pmod(xxhash64(id, lit(82), j), lit(2000)).cast("double") / 1000.0 - 1.0))
    val norm = sqrt(aggregate(raw, lit(0.0), (acc, x) => acc + x * x))
    one(spark.range(nVecs).select(id.as("vec_id"),
      transform(raw, x => (x / norm).cast("float")).as("embedding"),
      label.as("label")), "embeddings")
  }
}
