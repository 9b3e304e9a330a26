package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the TPC-H-shaped fixture the program reads
  * (region, nation, customer, supplier, part, orders, lineitem, events,
  * documents, embeddings — the schemas of the repository's fixture tables).
  *
  * Row counts depend only on the scale factor; every value is a hash of
  * (seed, column salt, row key), so one seed always yields the same
  * tables and different seeds yield same-sized tables with different
  * contents. Keys are dense and 0-based, as in the fixture. Parts per
  * line follow a mild power-law so the co-purchase graph has hubs.
  */
object DataGen {

  final case class Sizes(customer: Long, supplier: Long, part: Long,
      orders: Long, events: Long, documents: Long, embeddings: Long)

  def sizes(sf: Double): Sizes = Sizes(
    customer = (150000 * sf).round.max(10),
    supplier = (10000 * sf).round.max(5),
    part = (200000 * sf).round.max(20),
    orders = (1500000 * sf).round.max(20),
    events = (1000000 * sf).round.max(20),
    documents = 500,
    embeddings = 500)

  private val words = Seq("key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "spark", "a", "the", "line",
    "sort", "window", "order", "data", "column", "join", "small", "big",
    "customer", "query", "stream", "group", "filter")

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Write `only` (default: every table) under `dir` as `<table>.parquet`. */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long,
      only: Seq[String] = tables): Sizes = {
    val n = sizes(sf)
    def h(salt: Int, cs: Column*): Column = xxhash64(lit(seed) +: lit(salt) +: cs: _*)
    // uniform in [0, 1)
    def u(salt: Int, cs: Column*): Column = pmod(h(salt, cs: _*), lit(1000000007L)) / 1000000007.0
    def pick(salt: Int, values: Seq[String], cs: Column*): Column =
      element_at(typedlit(values), (pmod(h(salt, cs: _*), lit(values.size.toLong)) + 1).cast("int"))
    def money(salt: Int, lo: Double, hi: Double, cs: Column*): Column =
      round(lit(lo) + u(salt, cs: _*) * (hi - lo), 2)
    def day(salt: Int, from: String, days: Int, cs: Column*): Column =
      date_add(lit(from).cast("date"), (u(salt, cs: _*) * days).cast("int"))
        .cast("timestamp")
    def save(name: String, df: => DataFrame): Unit =
      if (only.contains(name))
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val id = col("id")

    save("region", spark.range(5).select(id.cast("int").as("r_regionkey"),
      concat(lit("REGION"), id).as("r_name")))
    save("nation", spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION"), id).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")))
    save("customer", spark.range(n.customer).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pmod(h(1, id), lit(25L)).cast("int").as("c_nationkey"),
      money(2, -999.99, 9999.99, id).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), id)
        .as("c_mktsegment")))
    save("supplier", spark.range(n.supplier).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      pmod(h(4, id), lit(25L)).cast("int").as("s_nationkey"),
      money(5, -999.99, 9999.99, id).as("s_acctbal")))
    save("part", spark.range(n.part).select(id.as("p_partkey"),
      concat_ws(" ", pick(6, Seq("small", "red", "large", "blue", "steel"), id),
        pick(7, Seq("ring", "widget", "bolt", "gear", "valve"), id)).as("p_name"),
      concat(lit("Brand#"), pmod(h(8, id), lit(25L)) + 1).as("p_brand"),
      pick(9, Seq("ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM"), id).as("p_type"),
      (pmod(h(10, id), lit(50L)) + 1).cast("int").as("p_size"),
      (lit(900.0) + round((id % 1000) / 10.0, 2)).as("p_retailprice")))
    save("orders", spark.range(n.orders).select(id.as("o_orderkey"),
      pmod(h(11, id), lit(n.customer)).as("o_custkey"),
      pick(12, Seq("F", "O", "P"), id).as("o_orderstatus"),
      money(13, 1000.0, 500000.0, id).as("o_totalprice"),
      day(14, "1992-01-01", 2400, id).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id)
        .as("o_orderpriority")))
    // 1..7 lines per order; part popularity ~ u^1.5 (hubs at low keys)
    val lines = spark.range(n.orders)
      .select(id.as("l_orderkey"),
        explode(sequence(lit(1), (pmod(h(16, id), lit(7L)) + 1).cast("int")))
          .as("l_linenumber"))
    val lk = Seq(col("l_orderkey"), col("l_linenumber"))
    save("lineitem", lines.select(col("l_orderkey"),
      least(floor(pow(u(17, lk: _*), 1.5) * n.part), lit(n.part - 1)).cast("long")
        .as("l_partkey"),
      pmod(h(18, lk: _*), lit(n.supplier)).as("l_suppkey"),
      col("l_linenumber"),
      (pmod(h(19, lk: _*), lit(50L)) + 1).cast("double").as("l_quantity"),
      money(20, 900.0, 100000.0, lk: _*).as("l_extendedprice"),
      (pmod(h(21, lk: _*), lit(11L)) / 100.0).as("l_discount"),
      (pmod(h(22, lk: _*), lit(9L)) / 100.0).as("l_tax"),
      pick(23, Seq("A", "N", "R"), lk: _*).as("l_returnflag"),
      pick(24, Seq("F", "O"), lk: _*).as("l_linestatus"),
      day(25, "1992-01-02", 2500, lk: _*).as("l_shipdate")))
    save("events", spark.range(n.events).select(id.as("event_id"),
      (lit(1704067200000000L) + id * 230000L + pmod(h(26, id), lit(200000L)))
        .cast("long").as("__us"),
      pmod(h(27, id), lit(n.customer)).as("user_id"),
      pick(28, Seq("click", "view", "purchase", "error"), id).as("event_type"),
      money(29, 0.0, 100.0, id).as("value"),
      format_string("{\"k\": %d}", pmod(h(30, id), lit(100L))).as("props"))
      .select(col("event_id"), timestamp_micros(col("__us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props")))
    val text = concat_ws(" ", transform(sequence(lit(1), (pmod(h(31, id), lit(60L)) + 10)
      .cast("int")), i => element_at(typedlit(words),
        (pmod(xxhash64(lit(seed), lit(32), id, i), lit(words.size.toLong)) + 1).cast("int"))))
    save("documents", spark.range(n.documents)
      .select(id.as("doc_id"), text.as("text"),
        pick(33, Seq("en", "de", "fr"), id).as("lang"),
        concat(lit("src"), pmod(h(34, id), lit(4L))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    save("embeddings", spark.range(n.embeddings).select(id.as("vec_id"),
      transform(sequence(lit(1), lit(64)), i =>
        ((pmod(xxhash64(lit(seed), lit(35), id, i), lit(2001L)) - 1000) / 4000.0)
          .cast("float")).as("embedding"),
      pmod(h(36, id), lit(4L)).cast("int").as("label")))
    n
  }
}
