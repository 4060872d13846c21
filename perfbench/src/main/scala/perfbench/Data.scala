package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs. Every column is a pure function of
  * (seed, row id), so one seed gives the same rows on every run, every
  * partitioning and every machine. Schemas match the repository's
  * TPC-H-style test tables, which the gate queries are written for. */
object Data {
  /** Slices per generated frame: fixed, so file and row-group
    * boundaries (and with them every exact count) do not depend on the
    * core count. */
  val Slices = 4

  private def h(seed: Long, k: Int): Column = xxhash64(lit(seed), col("id"), lit(k))
  /** Uniform integer in [0, m). */
  def u(seed: Long, k: Int, m: Long): Column = pmod(h(seed, k), lit(m))
  private def pick(c: Column, vals: Seq[String]): Column =
    element_at(array(vals.map(lit): _*), (c + 1).cast("int"))

  private val Day0 = 694310400L // 1992-01-02 00:00:00 UTC
  private val ShipSpanDays = 2400L

  /** Order of the row with id `id` among `orders` orders: a seeded
    * bijection (7919 is prime and never divides `orders` here), so the
    * file order of keys is scattered, as in an unclustered table. */
  private def orderOf(seed: Long, orders: Long): Column =
    pmod(floor(col("id") / 4) * 7919 + lit(math.floorMod(seed, orders)), lit(orders))

  /** `n` lineitem rows, four lines per order. Order keys are even
    * (`2 * order + keyBase`), so every odd key in range is absent. Ship
    * dates follow the order key with a seeded jitter, which gives a
    * table clustered on `l_orderkey` tight ship-date zone maps. */
  def lineitem(spark: SparkSession, seed: Long, n: Long, keyBase: Long = 0L): DataFrame = {
    require(n % 4 == 0 && (n / 4) % 7919 != 0, s"lineitem rows must be 4k, not a multiple of 4*7919: $n")
    val orders = n / 4
    val ord = orderOf(seed, orders)
    val days = floor(ord * ShipSpanDays / orders) + u(seed, 8, 122)
    val ship = timestamp_seconds(lit(Day0) + days * 86400)
    spark.range(0, n, 1, Slices).select(
      (ord * 2 + keyBase).as("l_orderkey"),
      (u(seed, 1, 20000) + 1).as("l_partkey"),
      (u(seed, 2, 1000) + 1).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (u(seed, 3, 50) + 1).cast("double").as("l_quantity"),
      ((u(seed, 4, 10000000) + 90000) / 100.0).as("l_extendedprice"),
      (u(seed, 5, 11) / 100.0).as("l_discount"),
      (u(seed, 6, 9) / 100.0).as("l_tax"),
      pick(u(seed, 7, 3), Seq("A", "N", "R")).as("l_returnflag"),
      when(days > 1262, "O").otherwise("F").as("l_linestatus"),
      ship.as("l_shipdate"))
  }

  def orders(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(0, n, 1, Slices).select(
      col("id").as("o_orderkey"),
      (u(seed, 1, 15000) + 1).as("o_custkey"),
      pick(u(seed, 2, 3), Seq("O", "F", "P")).as("o_orderstatus"),
      ((u(seed, 3, 50000000) + 100000) / 100.0).as("o_totalprice"),
      timestamp_seconds(lit(Day0) + u(seed, 4, 2400) * 86400).as("o_orderdate"),
      pick(u(seed, 5, 5), Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))

  private val Vocab = Seq("a", "agg", "batch", "big", "column", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "value", "vector",
    "window", "index", "page", "block")

  /** Documents of 20 to 79 words over a 31-word vocabulary. */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val vocab = array(Vocab.map(lit): _*)
    val words = transform(sequence(lit(1), (u(seed, 1, 60) + 20).cast("int")),
      i => element_at(vocab, (pmod(xxhash64(lit(seed), col("id"), i), lit(Vocab.size.toLong)) + 1).cast("int")))
    spark.range(0, n, 1, Slices)
      .select(col("id"), concat_ws(" ", words).as("text"))
      .select(
        col("id").as("doc_id"), col("text"),
        pick(u(seed, 2, 8), Seq("en", "en", "en", "zh", "es", "fr", "de", "en")).as("lang"),
        concat(lit("src"), (col("id") % 20).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** Events over 30 days, time-ordered by id with a seeded jitter. */
  def events(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val spanUs = 30L * 86400L * 1000000L
    val day0Us = 1704067200L * 1000000L // 2024-01-01 UTC
    spark.range(0, n, 1, Slices).select(
      col("id").as("event_id"),
      timestamp_micros(lit(day0Us) + floor(col("id") * (spanUs / n)) + u(seed, 1, 60000000)).as("ts"),
      u(seed, 2, 2000).as("user_id"),
      pick(u(seed, 3, 5), Seq("signup", "purchase", "view", "click", "error")).as("event_type"),
      (u(seed, 4, 50000) / 100.0).as("value"),
      concat(lit("{\"k\": "), u(seed, 5, 100).cast("string"), lit("}")).as("props"))
  }
}
