package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generator of the TPC-H-shaped tables the flagship query and the operator
  * gates read, with the shape of the test tables: `orders`, `lineitem` and
  * `documents` (bag-of-words texts over the same 30-word vocabulary).
  *
  * Every value is a hash of (row id, corpus seed, column), so the tables do
  * not depend on partitioning or on the machine, and the outputs of the
  * queries over them can be pinned by digest. Each table is written as a
  * single parquet file named `<table>.parquet`, the layout the engine's
  * `Tables` reader and the DuckDB oracle both read. */
object Corpus {

  /** The corpus is fixed: its seed is not the run's seed, so the digests in
    * `digests.json` hold for every run. */
  val seed = 20170101L

  val vocab: Seq[String] = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  /** Uniform double in [0, 1) from (id, seed, k). */
  private def u(id: Column, k: Int): Column =
    (xxhash64(id, lit(seed), lit(k)).bitwiseAND(lit(0xffffffffL)).cast("double") /
      lit(4294967296.0))

  private def pick(id: Column, k: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (floor(u(id, k) * xs.size) + 1).cast("int"))

  private def day(id: Column, k: Int, from: String, days: Int): Column =
    to_timestamp(date_add(lit(from).cast("date"), floor(u(id, k) * days).cast("int")))

  def orders(s: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    s.range(n).select(
      id.as("o_orderkey"),
      floor(u(id, 1) * 15000).cast("long").as("o_custkey"),
      pick(id, 2, Seq("O", "F", "P")).as("o_orderstatus"),
      round(lit(1000.0) + u(id, 3) * 499000.0, 2).as("o_totalprice"),
      day(id, 4, "1995-01-01", 2404).as("o_orderdate"),
      pick(id, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
  }

  def lineitem(s: SparkSession, n: Long, nOrders: Long): DataFrame = {
    val id = col("id")
    s.range(n).select(
      floor(u(id, 11) * nOrders).cast("long").as("l_orderkey"),
      floor(u(id, 12) * 20000).cast("long").as("l_partkey"),
      floor(u(id, 13) * 1000).cast("long").as("l_suppkey"),
      (floor(u(id, 14) * 7) + 1).cast("int").as("l_linenumber"),
      (floor(u(id, 15) * 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u(id, 16) * 104100.0, 2).as("l_extendedprice"),
      round(floor(u(id, 17) * 11) / 100.0, 2).as("l_discount"),
      round(floor(u(id, 18) * 9) / 100.0, 2).as("l_tax"),
      pick(id, 19, Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, 20, Seq("O", "F")).as("l_linestatus"),
      day(id, 21, "1995-01-02", 2498).as("l_shipdate"))
  }

  /** Bag-of-words texts of 10-100 words; every 20th carries the word `dup`,
    * like the test tables' documents. */
  def documents(s: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    val words = transform(sequence(lit(1), (floor(u(id, 31) * 91) + 10).cast("int")),
      j => element_at(array(vocab.map(lit): _*),
        (pmod(xxhash64(id, lit(seed), j), lit(vocab.size.toLong)) + 1).cast("int")))
    val text = when(pmod(id, lit(20)) === 13, concat(array_join(words, " "), lit(" dup")))
      .otherwise(array_join(words, " "))
    s.range(n).select(id.as("doc_id"), text.as("text"))
      .select(col("doc_id"), col("text"),
        when(u(col("doc_id"), 32) < 0.4, lit("en"))
          .otherwise(pick(col("doc_id"), 33, Seq("de", "es", "fr", "zh"))).as("lang"),
        concat(lit("src"), pmod(col("doc_id"), lit(20)).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** Write `df` as the single file `<dir>/<name>.parquet`. */
  def writeTable(df: DataFrame, dir: Path, name: String): Unit = {
    val staging = dir.resolve(s".$name.staging")
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = Files.list(staging)
    try {
      val file = part.filter(p => p.getFileName.toString.endsWith(".parquet")).findFirst().get
      Files.move(file, dir.resolve(s"$name.parquet"))
    } finally part.close()
    Files.deleteIfExists(staging.resolve("_SUCCESS"))
    val rest = Files.list(staging)
    try rest.forEach(p => Files.delete(p)) finally rest.close()
    Files.delete(staging)
  }

  /** The flagship's fact table at sf0.1 size. */
  def writeFlagship(s: SparkSession, dir: Path): Unit = {
    Files.createDirectories(dir)
    writeTable(orders(s, 150000L), dir, "orders")
  }

  /** Every table the gate pass reads, at sf0.01 size: the gates' cost is
    * mostly per job, and this size keeps a pass short enough to run warm. */
  def writeGateTables(s: SparkSession, dir: Path): Unit = {
    Files.createDirectories(dir)
    writeTable(orders(s, 15000L), dir, "orders")
    writeTable(lineitem(s, 60000L, 15000L), dir, "lineitem")
    writeTable(documents(s, 500L), dir, "documents")
  }
}
