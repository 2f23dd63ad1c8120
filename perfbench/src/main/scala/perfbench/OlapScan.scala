package perfbench

import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import graft.lake.{Lake, Pruning}
import graft.queries.Tables

/** olap_scan: a seeded stream of read-only queries over the star schema.
  *
  * Why: scan planning, scan execution and operators do nearly all the
  * work; metadata, write, change feed and MV do almost none, so this is
  * the control workload for changes to those layers.
  *
  * Queries read through the lake's DSv2 catalog (`graft.lake.LakeCatalog`,
  * the SQL path, where pushed filters prune files by their stats).
  * `lineitem` and `orders` are written in date order so date ranges have
  * files to skip, and a few committed deletes on `lineitem` make every scan
  * of it apply delete files. Every distinct (template, parameter) result
  * is checked against the same template over the raw parquet inputs
  * (`graft.queries.Tables.load`) with the same deletes applied, computed
  * once and untimed. */
final class OlapScan(env: Env, root: String) extends Workload {
  import OlapScan._
  private val spark = env.spark
  private val lake: Lake = env.lake(root)
  private val rnd = new scala.util.Random(env.seed)
  private val catalog = s"lake_${math.abs(root.hashCode)}"
  private val expected = mutable.HashMap.empty[(String, Int), Seq[Row]]

  def setup(): Unit = {
    def raw(t: String) = Tables.load(spark, env.input, t)
    Seq("nation", "customer", "supplier", "part").foreach { t =>
      lake.createTableAs(s"main.$t", raw(t).coalesce(1))
    }
    // date order: each file holds a disjoint date range
    lake.createTableAs("main.orders",
      raw("orders").repartitionByRange(4, col("o_orderdate")).sortWithinPartitions("o_orderdate"))
    lake.createTableAs("main.lineitem",
      raw("lineitem").repartitionByRange(8, col("l_shipdate")).sortWithinPartitions("l_shipdate"))
    Deletes.foreach(c => lake.delete("main.lineitem", c))
    lake.checkpoint()
  }

  private lazy val registered: Unit = {
    spark.conf.set(s"spark.sql.catalog.$catalog", "graft.lake.LakeCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.root", root)
  }
  private def lakeTable(t: String): DataFrame = { registered; spark.table(s"$catalog.main.$t") }
  private def rawTable(t: String): DataFrame = {
    val df = Tables.load(spark, env.input, t)
    if (t == "lineitem") Deletes.foldLeft(df)((d, c) => d.filter(!c)) else df
  }

  /** no warm-up: the set-ups have warmed the JVM, and every block starts
    * with the same cold queries */
  val warmupOps: Int = 0
  /** a block: every (template, parameter) pair once */
  private val deck = new Deck(rnd, for (t <- Templates; p <- 0 until Params) yield (t, p))
  val block: Int = Templates.size * Params

  def next(h: Harness): Unit = {
    val (tpl, p) = deck.next()
    val key = (tpl.name, p)
    val id = h.nextOpId
    h.op(tpl.name) {
      val df = h.tracer.span("plan") {
        val d = tpl.df(lakeTable, p, env.seed)
        d.queryExecution.executedPlan
        d
      }
      h.tracer.span("exec")(df.collect().toSeq)
    } { rows =>
      if (h.tracer.enabled) countPruning(h.tracer, id, tpl.filters(p, env.seed))
      val want = expected.getOrElseUpdate(key, tpl.df(rawTable, p, env.seed).collect().toSeq)
      Check.sameRows(rows, want)
    }
  }

  /** files the snapshot holds, and those `Pruning.prune` keeps under the
    * template's pushed filters (metadata only, outside the op's clock) */
  private def countPruning(tracer: Tracer, op: Long, filters: Map[String, Seq[Filter]]): Unit = {
    val st = lake.store.state()
    val s = st.currentSnapshotId
    filters.foreach { case (t, fs) =>
      val tid = st.tableAt("main", t, s).get.tableId
      val files = st.filesAt(tid, s).map(st.fileNamesAt(tid, s))
      val kept = Pruning.prune(files, st.statsForAt(tid, s, files),
        st.columnsAt(tid, s).map(c => c.name -> c.dataType).toMap, st.partitionKeysAt(tid, s), fs)
      tracer.countAt(op, "plan", "files_total", files.size.toDouble)
      tracer.countAt(op, "plan", "files_kept", kept.size.toDouble)
      tracer.countAt(op, "scan", "delete_files_live", st.deleteFilesAt(tid, s).size.toDouble)
    }
  }

  def finalCheck(): Option[String] = {
    val got = lake.table("main.lineitem").count()
    val want = rawTable("lineitem").count()
    if (got == want) None else Some(s"lineitem has $got rows, expected $want")
  }

  def openTable: String = "main.lineitem"
  def liveTables: Seq[String] = Main.Workloads("olap_scan").map(t => s"main.$t")
  override def extra(h: Harness): Map[String, Any] =
    Map("distinct_queries_checked" -> expected.size)
}

object OlapScan {
  val Params = 2

  /** committed before measuring; the reference applies the same filters */
  val Deletes: Seq[Column] = Seq(
    col("l_orderkey") % 97 === 3,
    col("l_discount") === 0.1 && col("l_tax") === 0.08)

  private def ts(day: Int): Timestamp = new Timestamp(day.toLong * 86400000L)
  private def key(seed: Long, p: Int, n: Long): Long =
    1 + java.lang.Math.floorMod(new scala.util.Random(seed * 31 + p).nextLong(), n)

  final case class Template(name: String,
      df: (String => DataFrame, Int, Long) => DataFrame,
      filters: (Int, Long) => Map[String, Seq[Filter]])

  private def revenue: Column = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  val Templates: Seq[Template] = Seq(
    Template("point_order",
      (t, p, s) => t("orders").filter(col("o_orderkey") === key(s, p, Main.Scale.orders)),
      (p, s) => Map("orders" -> Seq(EqualTo("o_orderkey", key(s, p, Main.Scale.orders))))),
    Template("point_lines",
      (t, p, s) => t("lineitem").filter(col("l_orderkey") === key(s, p + 10, Main.Scale.orders))
        .join(t("part"), col("l_partkey") === col("p_partkey"))
        .select("l_linenumber", "p_name", "l_quantity", "l_shipdate").orderBy("l_linenumber"),
      (p, s) => Map("lineitem" -> Seq(EqualTo("l_orderkey", key(s, p + 10, Main.Scale.orders))))),
    Template("ship_range", { (t, p, _) =>
        val d0 = Gen.Day0 + 200 + p * 570
        t("lineitem").filter(col("l_shipdate") >= ts(d0) && col("l_shipdate") < ts(d0 + 30))
          .agg(count(lit(1)).as("n"), sum("l_extendedprice").as("price"),
            avg("l_discount").as("disc"))
      }, { (p, _) =>
        val d0 = Gen.Day0 + 200 + p * 570
        Map("lineitem" -> Seq(GreaterThanOrEqual("l_shipdate", ts(d0)), LessThan("l_shipdate", ts(d0 + 30))))
      }),
    Template("order_range", { (t, p, _) =>
        val d0 = Gen.Day0 + 90 + p * 600
        t("orders").filter(col("o_orderdate") >= ts(d0) && col("o_orderdate") < ts(d0 + 91))
          .groupBy("o_orderpriority").agg(count(lit(1)).as("n"), sum("o_totalprice").as("total"))
          .orderBy("o_orderpriority")
      }, { (p, _) =>
        val d0 = Gen.Day0 + 90 + p * 600
        Map("orders" -> Seq(GreaterThanOrEqual("o_orderdate", ts(d0)), LessThan("o_orderdate", ts(d0 + 91))))
      }),
    Template("q01", { (t, p, _) =>
        t("lineitem").filter(col("l_shipdate") <= ts(Gen.Day0 + Gen.Days + 30 - 60 * p))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum("l_quantity").as("sum_qty"), sum("l_extendedprice").as("sum_price"),
            sum(revenue).as("sum_disc_price"),
            sum(revenue * (lit(1.0) + col("l_tax"))).as("sum_charge"),
            avg("l_quantity").as("avg_qty"), avg("l_discount").as("avg_disc"),
            count(lit(1)).as("n"))
          .orderBy("l_returnflag", "l_linestatus")
      }, (p, _) => Map("lineitem" -> Seq(LessThanOrEqual("l_shipdate", ts(Gen.Day0 + Gen.Days + 30 - 60 * p))))),
    Template("q03", { (t, p, _) =>
        val d = ts(Gen.Day0 + 1100 + 60 * p)
        t("customer").filter(col("c_mktsegment") === Gen.Segments(p))
          .join(t("orders").filter(col("o_orderdate") < d), col("c_custkey") === col("o_custkey"))
          .join(t("lineitem").filter(col("l_shipdate") > d), col("o_orderkey") === col("l_orderkey"))
          .groupBy("l_orderkey", "o_orderdate").agg(sum(revenue).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
      }, { (p, _) =>
        val d = ts(Gen.Day0 + 1100 + 60 * p)
        Map("orders" -> Seq(LessThan("o_orderdate", d)), "lineitem" -> Seq(GreaterThan("l_shipdate", d)))
      }),
    Template("q05", { (t, p, _) =>
        val d0 = Gen.Day0 + 365 * (1 + p)
        t("customer")
          .join(t("orders").filter(col("o_orderdate") >= ts(d0) && col("o_orderdate") < ts(d0 + 365)),
            col("c_custkey") === col("o_custkey"))
          .join(t("lineitem"), col("o_orderkey") === col("l_orderkey"))
          .join(t("supplier"), col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
          .join(t("nation"), col("s_nationkey") === col("n_nationkey"))
          .filter(col("n_regionkey") === p)
          .groupBy("n_name").agg(sum(revenue).as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      }, { (p, _) =>
        val d0 = Gen.Day0 + 365 * (1 + p)
        Map("orders" -> Seq(GreaterThanOrEqual("o_orderdate", ts(d0)), LessThan("o_orderdate", ts(d0 + 365))))
      }),
    Template("brand_join", { (t, p, _) =>
        val d0 = Gen.Day0 + 400 + 450 * p
        t("lineitem").filter(col("l_shipdate") >= ts(d0) && col("l_shipdate") < ts(d0 + 180))
          .join(t("part").filter(col("p_brand") === s"Brand#${p + 1}${p + 2}"),
            col("l_partkey") === col("p_partkey"))
          .groupBy("p_type").agg(sum("l_quantity").as("qty"), count(lit(1)).as("n"))
          .orderBy("p_type")
      }, { (p, _) =>
        val d0 = Gen.Day0 + 400 + 450 * p
        Map("lineitem" -> Seq(GreaterThanOrEqual("l_shipdate", ts(d0)), LessThan("l_shipdate", ts(d0 + 180))))
      }))
}
