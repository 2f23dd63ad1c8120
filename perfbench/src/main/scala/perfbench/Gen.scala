package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator of the star-schema inputs (the shape of the TPC-H-like
  * test tables: nation, customer, supplier, part, orders, lineitem). Every value is a hash of (seed, row id, column), so the same
  * seed gives the same tables however Spark partitions the work. Sizes are
  * `sf` times the TPC-H cardinalities (orders = 1.5M * sf, 4 lines each).
  *
  * The tables are written once per run as parquet under the run's input
  * directory; the program under test only ever reads them from there. */
object Gen {
  val Tables = Seq("nation", "customer", "supplier", "part", "orders", "lineitem")

  final case class Sizes(sf: Double) {
    val customers: Long = (150000 * sf).toLong
    val suppliers: Long = math.max(10L, (10000 * sf).toLong)
    val parts: Long = (200000 * sf).toLong
    val orders: Long = (1500000 * sf).toLong
    val lineitems: Long = orders * 4
  }

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Types = Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
  /** first order day (1992-01-01) as days since the epoch, and the span */
  val Day0 = 8035
  val Days = 2405

  private val P = 1000003L

  /** uniform in [0, 1) from (seed, key, salt) */
  private def u(seed: Long, key: Column, salt: Int): Column =
    pmod(xxhash64(lit(seed), key, lit(salt)), lit(P)).cast("double") / P.toDouble
  private def pick(seed: Long, key: Column, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (u(seed, key, salt) * xs.size).cast("int") + 1)
  private def money(c: Column): Column = round(c, 2)
  private def day(d: Column): Column = timestamp_seconds(d.cast("long") * 86400L)
  private def orderDay(seed: Long, orderId: Column): Column =
    lit(Day0) + (u(seed, orderId, 4) * Days).cast("int")

  def tables(spark: SparkSession, seed: Long, sz: Sizes): Map[String, DataFrame] = {
    val id = col("id")
    def range(n: Long) = spark.range(0, n, 1, if (n < 50000) 1 else 4)
    Map(
      "nation" -> range(25).select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id.cast("string")).as("n_name"),
        (id % 5).cast("int").as("n_regionkey")),
      "customer" -> range(sz.customers).select((id + 1).as("c_custkey"),
        format_string("Customer#%09d", id + 1).as("c_name"),
        (u(seed, id, 1) * 25).cast("int").as("c_nationkey"),
        money(u(seed, id, 2) * 10999 - 999).as("c_acctbal"),
        pick(seed, id, 3, Segments).as("c_mktsegment")),
      "supplier" -> range(sz.suppliers).select((id + 1).as("s_suppkey"),
        format_string("Supplier#%09d", id + 1).as("s_name"),
        (u(seed, id, 11) * 25).cast("int").as("s_nationkey"),
        money(u(seed, id, 12) * 10999 - 999).as("s_acctbal")),
      "part" -> range(sz.parts).select((id + 1).as("p_partkey"),
        format_string("part %d", id + 1).as("p_name"),
        format_string("Brand#%d%d", (u(seed, id, 21) * 5).cast("int") + 1,
          (u(seed, id, 22) * 5).cast("int") + 1).as("p_brand"),
        pick(seed, id, 23, Types).as("p_type"),
        ((u(seed, id, 24) * 50).cast("int") + 1).as("p_size"),
        money(lit(900.0) + u(seed, id, 25) * 1100).as("p_retailprice")),
      "orders" -> range(sz.orders).select((id + 1).as("o_orderkey"),
        ((u(seed, id, 31) * sz.customers).cast("long") + 1).as("o_custkey"),
        pick(seed, id, 32, Seq("F", "O", "P")).as("o_orderstatus"),
        money(lit(850.0) + u(seed, id, 33) * 450000).as("o_totalprice"),
        day(orderDay(seed, id)).as("o_orderdate"),
        pick(seed, id, 34, Priorities).as("o_orderpriority")),
      "lineitem" -> {
        val order = (id / 4).cast("long")
        val qty = ((u(seed, id, 41) * 50).cast("int") + 1).cast("double")
        range(sz.lineitems).select((order + 1).as("l_orderkey"),
          ((u(seed, id, 42) * sz.parts).cast("long") + 1).as("l_partkey"),
          ((u(seed, id, 43) * sz.suppliers).cast("long") + 1).as("l_suppkey"),
          ((id % 4) + 1).cast("int").as("l_linenumber"),
          qty.as("l_quantity"),
          money(qty * (lit(900.0) + u(seed, id, 44) * 1100)).as("l_extendedprice"),
          ((u(seed, id, 45) * 11).cast("int") / 100.0).as("l_discount"),
          ((u(seed, id, 46) * 9).cast("int") / 100.0).as("l_tax"),
          pick(seed, id, 47, Seq("R", "A", "N")).as("l_returnflag"),
          pick(seed, id, 48, Seq("O", "F")).as("l_linestatus"),
          day(orderDay(seed, order) + (u(seed, id, 49) * 121).cast("int") + 1).as("l_shipdate"))
      })
  }

  /** write every table as `<dir>/<name>.parquet` (the layout
    * `graft.queries.Tables.load` reads) */
  def write(spark: SparkSession, seed: Long, sz: Sizes, dir: String, names: Seq[String]): Unit = {
    val all = tables(spark, seed, sz)
    names.foreach(n => all(n).write.mode("overwrite").parquet(s"$dir/$n.parquet"))
  }
}
