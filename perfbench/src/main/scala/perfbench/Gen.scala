package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic inputs with the shape of the TPC-H-like star
  * schema (plus the `events` stream table) that the program's queries
  * read. Every value is a hash of (seed, column tag, row id), so a
  * (seed, scale) pair names exactly one dataset, independent of how
  * Spark partitions the generating job.
  *
  * Row counts at scale factor `sf`: customer 150k·sf, supplier 10k·sf,
  * part 200k·sf, orders 1.5M·sf, lineitem ≈ 4 per order, events 1M·sf;
  * region (5) and nation (25) are fixed. Timestamps are written as
  * TIMESTAMP_NTZ, like the parquet fixtures the queries were built on.
  */
object Gen {

  val starTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  final case class Sizes(customer: Long, supplier: Long, part: Long,
      orders: Long, events: Long, users: Long)

  def sizes(sf: Double): Sizes = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    Sizes(n(150000), n(10000), n(200000), n(1500000), n(1000000), n(15000))
  }

  private def h(seed: Long, tag: String, id: Column): Column =
    xxhash64(lit(seed), lit(tag), id)
  private def mod(seed: Long, tag: String, id: Column, n: Long): Column =
    pmod(h(seed, tag, id), lit(n))
  /** Uniform in [0, 1). */
  private def unif(seed: Long, tag: String, id: Column): Column =
    mod(seed, tag, id, 1000000000L).cast("double") / 1e9
  private def pick(seed: Long, tag: String, id: Column, choices: Seq[String]): Column =
    element_at(array(choices.map(lit): _*),
      (mod(seed, tag, id, choices.size.toLong) + 1).cast("int"))
  private def money(seed: Long, tag: String, id: Column, lo: Double, hi: Double): Column =
    round(lit(lo) + unif(seed, tag, id) * (hi - lo), 2)

  private val day = 86400L
  private val epoch1995 = 788918400L // 1995-01-01T00:00:00Z

  /** One generated table by name. `keys = Some((lo, hi))` generates only
    * the rows whose key (the order key, for lineitem) lies in [lo, hi):
    * a slice of the table, with foreign keys still spanning scale `sf`. */
  def table(spark: SparkSession, name: String, sf: Double, seed: Long,
      keys: Option[(Long, Long)] = None): DataFrame = {
    val s = sizes(sf)
    val id = col("id")
    def rows(n: Long): DataFrame = keys.fold(spark.range(n))(k => spark.range(k._1, k._2)).toDF()
    name match {
      case "region" =>
        spark.range(5).select(id.cast("int").as("r_regionkey"),
          element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
            (id + 1).cast("int")).as("r_name"))
      case "nation" =>
        spark.range(25).select(id.cast("int").as("n_nationkey"),
          concat(lit("NATION_"), id.cast("string")).as("n_name"),
          mod(seed, "n_regionkey", id, 5).cast("int").as("n_regionkey"))
      case "customer" =>
        rows(s.customer).select(id.as("c_custkey"),
          format_string("Customer#%09d", id).as("c_name"),
          mod(seed, "c_nationkey", id, 25).cast("int").as("c_nationkey"),
          money(seed, "c_acctbal", id, -999.99, 9999.99).as("c_acctbal"),
          pick(seed, "c_mktsegment", id,
            Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
      case "supplier" =>
        rows(s.supplier).select(id.as("s_suppkey"),
          format_string("Supplier#%09d", id).as("s_name"),
          mod(seed, "s_nationkey", id, 25).cast("int").as("s_nationkey"),
          money(seed, "s_acctbal", id, -999.99, 9999.99).as("s_acctbal"))
      case "part" =>
        rows(s.part).select(id.as("p_partkey"),
          concat(
            pick(seed, "p_adj", id, Seq("small", "large", "red", "blue", "hot", "old", "shiny", "green")),
            lit(" "),
            pick(seed, "p_noun", id, Seq("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"))
          ).as("p_name"),
          concat(lit("Brand#"), (mod(seed, "p_brand", id, 25) + 1).cast("string")).as("p_brand"),
          pick(seed, "p_type", id,
            Seq("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")).as("p_type"),
          (mod(seed, "p_size", id, 50) + 1).cast("int").as("p_size"),
          (lit(900.0) + mod(seed, "p_retailprice", id, 1000).cast("double") / 10).as("p_retailprice"))
      case "orders" =>
        ordersBase(rows(s.orders), s, seed).drop("o_datesec")
      case "lineitem" =>
        val lines = ordersBase(rows(s.orders), s, seed)
          .select(col("o_orderkey"), col("o_datesec"),
            explode(sequence(lit(1), (mod(seed, "o_lines", col("o_orderkey"), 7) + 1).cast("int")))
              .as("l_linenumber"))
        val k = col("o_orderkey") * 8 + col("l_linenumber")
        val qty = (mod(seed, "l_quantity", k, 50) + 1).cast("double")
        lines.select(col("o_orderkey").as("l_orderkey"),
          mod(seed, "l_partkey", k, s.part).as("l_partkey"),
          mod(seed, "l_suppkey", k, s.supplier).as("l_suppkey"),
          col("l_linenumber"),
          qty.as("l_quantity"),
          round(qty * (lit(900.0) + unif(seed, "l_price", k) * 1200), 2).as("l_extendedprice"),
          (mod(seed, "l_discount", k, 11).cast("double") / 100).as("l_discount"),
          (mod(seed, "l_tax", k, 9).cast("double") / 100).as("l_tax"),
          pick(seed, "l_returnflag", k, Seq("A", "N", "R")).as("l_returnflag"),
          pick(seed, "l_linestatus", k, Seq("F", "O")).as("l_linestatus"),
          ntz(col("o_datesec") + (mod(seed, "l_shipdate", k, 120) + 1) * day).as("l_shipdate"))
      case "events" =>
        rows(s.events).select(id.as("event_id"),
          ntzMicros(lit(1704067200000000L) + mod(seed, "ts", id, 30L * day * 1000000L)).as("ts"),
          mod(seed, "user_id", id, s.users).as("user_id"),
          pick(seed, "event_type", id, Seq("view", "click", "purchase", "signup", "error")).as("event_type"),
          money(seed, "value", id, 0.01, 490.02).as("value"),
          concat(lit("{\"k\": "), mod(seed, "props", id, 100).cast("string"), lit("}")).as("props"))
      case other => throw new IllegalArgumentException(s"unknown table: $other")
    }
  }

  private def ordersBase(range: DataFrame, s: Sizes, seed: Long): DataFrame = {
    val id = col("id")
    val dateSec = lit(epoch1995) + mod(seed, "o_orderdate", id, 2400) * day
    range.select(id.as("o_orderkey"),
      mod(seed, "o_custkey", id, s.customer).as("o_custkey"),
      pick(seed, "o_orderstatus", id, Seq("F", "O", "P")).as("o_orderstatus"),
      money(seed, "o_totalprice", id, 1000.0, 500000.0).as("o_totalprice"),
      ntz(dateSec).as("o_orderdate"),
      pick(seed, "o_orderpriority", id,
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"),
      dateSec.as("o_datesec"))
  }

  private def ntz(epochSeconds: Column): Column =
    ntzMicros(epochSeconds * 1000000L)
  // with the session time zone pinned to UTC the wall clock is the instant
  private def ntzMicros(epochMicros: Column): Column =
    timestamp_micros(epochMicros).cast("timestamp_ntz")

  /** Writes `df` as ONE parquet file at `path` (the fixture layout the
    * queries' loaders expect: `{dir}/{table}.parquet`). */
  def writeSingleFile(df: DataFrame, path: Path): Unit = {
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.deleteIfExists(path)
    Files.move(part, path)
    Files.walk(tmp).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
  }
}
