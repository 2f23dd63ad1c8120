package perfbench

import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lake.{Lake, LakeWrite}
import graft.lake.Meta._

/** dml_churn: small DML, change feed and materialized-view refresh on one
  * keyed table (built from `orders`) in a lake whose catalog is dominated
  * by a driver-only synthetic catalog.
  *
  * Why: the metadata fold, log listing, commit, the write path, the
  * change-feed window walk and the MV fold do the work, over a catalog
  * whose metadata is more than ten times the churn table's own, which a
  * small data set cannot otherwise show. Verified point and range reads
  * sit beside the writes, so a scan change that costs DML shows too.
  *
  * Ops, in a fixed sequence of 24 per block with seeded keys and values:
  * inline-sized `insertRows` under a `data_inlining_row_limit` tag, small
  * appends, key-range deletes, updates, a merge upsert, point and range
  * reads, a refresh and read of two views (`mv_prio`, a group-by with
  * sum/min/max/count over integer columns, as the lake refuses
  * order-dependent float sums; `mv_seg`, the table joined to a `customer`
  * dim), a read of the change feed since the last one, and maintenance of the churn table only (never the synthetic
  * ones): vacuum, then checkpoint, dropping older checkpoints. Superseded
  * files stay: the views' change-feed windows still read them.
  *
  * A driver-side key -> row model (and a model of the dim) checks every
  * read and view, the net-change identity of every feed window
  * table@s1 = table@s0 - (delete + update_preimage) + (insert +
  * update_postimage) by count and checksum, and the whole table at the end. */
final class DmlChurn(env: Env, root: String) extends Workload {
  import DmlChurn._
  private val spark = env.spark
  private val lake: Lake = env.lake(root)
  private val rnd = new scala.util.Random(env.seed)
  private val model = mutable.HashMap.empty[Long, R]
  private val dim = mutable.HashMap.empty[Long, String]
  private var nextKey = 0L
  /** change feed consumed up to this snapshot, and the model's fingerprint there */
  private var feedAt = 0L
  private var feedPrint = (0L, 0L)

  def setup(): Unit = {
    val orders = graft.queries.Tables.load(spark, env.input, "orders").coalesce(4)
    val customer = graft.queries.Tables.load(spark, env.input, "customer")
      .select("c_custkey", "c_mktsegment").coalesce(1)
    lake.createTableAs(T, orders)
    lake.setOption("data_inlining_row_limit", InlineLimit.toString, Some(T))
    lake.createTableAs(Dim, customer)
    lake.createMaterializedView(MvPrio, T, groupCols = Seq("o_orderpriority"),
      sumCols = Seq("o_custkey"), minMaxCols = Seq("o_orderkey"))
    lake.createMaterializedView(MvSeg, T, groupCols = Seq("c_mktsegment"),
      sumCols = Seq("o_custkey"), minMaxCols = Seq("o_orderkey"),
      dimTable = Some(Dim), dimKeys = Seq(("o_custkey", "c_custkey")))
    Synthetic.build(lake, env.seed)
    lake.checkpoint()
    model.clear()
    orders.collect().foreach(r => model(r.getLong(0)) = R(r))
    dim.clear()
    customer.collect().foreach(r => dim(r.getLong(0)) = r.getString(1))
    nextKey = model.keys.max + 1
    feedAt = lake.currentSnapshot()
    feedPrint = fingerprint(model.values)
  }

  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))

  private def fresh(k: Long): R =
    R(k, 1L + rnd.nextInt(Main.Scale.customers.toInt), "N", math.round(rnd.nextDouble() * 4e7) / 100.0,
      (Gen.Day0 + rnd.nextInt(Gen.Days)).toLong * 86400000000L, Gen.Priorities(rnd.nextInt(5)))
  private def frame(rs: Seq[R]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs.map(_.row), 1), schema)
  private def keyRange(width: Int): (Long, Long) = {
    val lo = 1L + (rnd.nextDouble() * nextKey).toLong
    (lo, lo + width - 1)
  }
  private def inRange(k: Long, r: (Long, Long)) = k >= r._1 && k <= r._2
  private def between(r: (Long, Long)) = col("o_orderkey").between(r._1, r._2)

  /** warm-up: a write, a delete and a read, to warm the JVM on the paths
    * every block takes */
  private val WarmKinds = Seq("append", "delete", "point_read")
  val warmupOps: Int = WarmKinds.size
  private var warm = 0
  val block: Int = Script.size
  private var step = 0

  def next(h: Harness): Unit = {
    val kind = if (warm < WarmKinds.size) { warm += 1; WarmKinds(warm - 1) }
      else { step += 1; Script((step - 1) % Script.size) }
    kind match {
      case "append" =>
        val rs = (0 until 40).map(i => fresh(nextKey + i))
        nextKey += rs.size
        h.op(kind)(h.tracer.span("write.append")(lake.append(T, frame(rs)))) { _ =>
          rs.foreach(r => model(r.key) = r); None
        }
      case "insert" =>
        val rs = (0 until InlineLimit / 2).map(i => fresh(nextKey + i))
        nextKey += rs.size
        h.op(kind)(h.tracer.span("write.insert")(lake.insertRows(T, rs.map(_.values)))) { _ =>
          rs.foreach(r => model(r.key) = r); None
        }
      case "delete" =>
        val r = keyRange(30)
        h.op(kind)(h.tracer.span("write.delete")(lake.delete(T, between(r)))) { res =>
          val hit = model.keys.filter(inRange(_, r)).toSeq
          hit.foreach(model.remove)
          if (res._2 == hit.size) None else Some(s"deleted ${res._2} rows, model has ${hit.size}")
        }
      case "update" =>
        val r = keyRange(30)
        val prio = Gen.Priorities(rnd.nextInt(5))
        h.op(kind)(h.tracer.span("write.update")(lake.update(T, between(r), Map(
          "o_totalprice" -> (col("o_totalprice") + 1.5), "o_orderstatus" -> lit("U"),
          "o_orderpriority" -> lit(prio))))) { res =>
          val hit = model.values.filter(x => inRange(x.key, r)).toSeq
          hit.foreach(x => model(x.key) = x.copy(price = x.price + 1.5, status = "U", prio = prio))
          if (res._2 == hit.size) None else Some(s"updated ${res._2} rows, model has ${hit.size}")
        }
      case "merge" =>
        val (lo, _) = keyRange(1)
        val existing = (0 until 20).map(i => lo + i * 7).filter(k => k < nextKey)
        val added = (0 until 10).map(i => nextKey + i)
        nextKey += added.size
        val src = (existing ++ added).map(k => fresh(k).copy(status = "M"))
        val s = frame(src).select(schema.fieldNames.map(n => col(n).as(s"s_$n")): _*)
        val set = schema.fieldNames.filter(_ != "o_orderkey").map(n => n -> col(s"s_$n")).toMap
        h.op(kind)(h.tracer.span("write.merge")(lake.merge(T, s,
          col("o_orderkey") === col("s_o_orderkey"),
          Seq(LakeWrite.MergeMatched(None, Some(set))),
          Seq(LakeWrite.MergeInsert(None, schema.fieldNames.map(n => n -> col(s"s_$n")).toMap))))) { res =>
          val upd = src.count(r => model.contains(r.key))
          src.foreach(r => model(r.key) = r)
          if (res._2 == upd && res._4 == src.size - upd) None
          else Some(s"merge updated ${res._2} inserted ${res._4}, model $upd/${src.size - upd}")
        }
      case "point_read" =>
        val k = 1L + (rnd.nextDouble() * nextKey).toLong
        h.op(kind)(read(h, lake.table(T).filter(col("o_orderkey") === k))) { rows =>
          val got = rows.map(R(_))
          if (got == model.get(k).toSeq) None else Some(s"key $k is $got, model ${model.get(k)}")
        }
      case "range_read" =>
        val r = keyRange(2000)
        h.op(kind)(read(h, lake.table(T).filter(between(r)).agg(Checksum.head, Checksum.tail: _*))) { rows =>
          val want = checksum(model.values.filter(x => inRange(x.key, r)))
          if (rows.head == want) None else Some(s"range $r is ${rows.head}, model $want")
        }
      case "mv_refresh" =>
        h.op(kind)(refreshAndRead(h))(checkViews)
      case "maint" => maintain(h)
      case "cdf_read" =>
        h.op(kind) {
          val s1 = lake.currentSnapshot()
          val feed = h.tracer.span("cdf") {
            lake.tableChanges(T, feedAt, s1).groupBy("_change_type")
              .agg(count(lit(1)), coalesce(sum(RowHash), lit(0L))).collect().toSeq
          }
          if (h.tracer.enabled) h.tracer.count("cdf", "rows", feed.map(_.getLong(1)).sum.toDouble)
          (s1, feed)
        } { case (s1, feed) =>
          val now = fingerprint(model.values)
          val err = netChange(feedPrint, now, feed)
          feedAt = s1
          feedPrint = now
          err
        }
    }
  }

  private def read(h: Harness, df: => DataFrame): Seq[Row] = {
    val d = h.tracer.span("plan") { val d = df; d.queryExecution.executedPlan; d }
    h.tracer.span("exec")(d.collect().toSeq)
  }

  private def refreshAndRead(h: Harness): Seq[Seq[Row]] = {
    Views.foreach(v => h.tracer.span("mv.refresh")(lake.refreshMaterializedView(v._1)))
    Views.map { case (v, group) =>
      h.tracer.span("mv.read")(lake.table(v).select(group, ViewCols: _*).collect().toSeq)
    }
  }

  /** each view against the same aggregate over the model */
  private def checkViews(views: Seq[Seq[Row]]): Option[String] = {
    def agg(rows: Iterable[(String, R)]): Seq[Row] = rows.groupBy(_._1).toSeq.map { case (g, rs) =>
      Row(g, rs.size.toLong, rs.toSeq.map(_._2.cust).sum, rs.map(_._2.key).min, rs.map(_._2.key).max)
    }
    val want = Seq(
      agg(model.values.map(r => r.prio -> r)),
      agg(model.values.flatMap(r => dim.get(r.cust).map(_ -> r))))
    Views.zip(views).zip(want).collectFirst(Function.unlift { case ((v, got), w) =>
      Check.sameRows(Check.sorted(got), Check.sorted(w)).map(e => s"${v._1}: $e")
    })
  }

  /** table@s1 = table@s0 - (delete + update_preimage) + (insert + update_postimage) */
  private def netChange(before: (Long, Long), after: (Long, Long), feed: Seq[Row]): Option[String] = {
    def part(types: String*): (Long, Long) = {
      val rs = feed.filter(r => types.contains(r.getString(0)))
      (rs.map(_.getLong(1)).sum, rs.map(_.getLong(2)).sum)
    }
    val (nOut, hOut) = part("delete", "update_preimage")
    val (nIn, hIn) = part("insert", "update_postimage")
    val n = before._1 - nOut + nIn
    val s = before._2 - hOut + hIn
    if ((n, s) == after) None
    else Some(s"net change: table@s0 - out + in = ($n, $s), table@s1 = $after")
  }

  /** the cold opens read a fresh checkpoint plus a tail of `OpenTail`
    * small commits, the same shape in every run */
  override def beforeOpen(): Unit = {
    lake.checkpoint()
    (0 until OpenTail).foreach { _ =>
      val r = fresh(nextKey)
      nextKey += 1
      lake.insertRows(T, Seq(r.values))
      model(r.key) = r
    }
  }

  private def liveFiles: Double = {
    val st = lake.store.state()
    val s = st.currentSnapshotId
    val tid = st.tableAt("main", "churn", s).get.tableId
    (st.filesAt(tid, s).size + st.deleteFilesAt(tid, s).size).toDouble
  }

  private def maintain(h: Harness): Unit = {
    val id = h.nextOpId
    if (h.tracer.enabled) {
      h.tracer.countAt(id, "maint", "files_before", h.untimed(liveFiles))
      h.tracer.countAt(id, "maint", "calls", 1)
    }
    h.op("maint") {
      h.tracer.span("maint.vacuum")(lake.vacuum(T))
      h.tracer.span("maint.checkpoint") { lake.checkpoint(); lake.store.gcCheckpoints() }
    }(_ => None)
    if (h.tracer.enabled) h.tracer.countAt(id, "maint", "files_after", h.untimed(liveFiles))
  }

  def finalCheck(): Option[String] = {
    val got = lake.table(T).collect().map(R(_)).sortBy(_.key).toSeq
    val want = model.values.toSeq.sortBy(_.key)
    if (got == want) None
    else Some(s"table has ${got.size} rows, model ${want.size}; first difference at " +
      got.zipAll(want, null, null).find { case (a, b) => a != b })
  }

  def openTable: String = T
  def liveTables: Seq[String] = Seq(T, Dim) ++ Views.map(_._1)
  override def extra(h: Harness): Map[String, Any] = Map("final_rows" -> model.size,
    "synthetic" -> Map("tables" -> Synthetic.Tables, "files" -> Synthetic.Tables * Synthetic.FilesPerTable))

  private def checksum(rs: Iterable[R]): Row =
    Row(rs.size.toLong, rs.map(_.key).sum, rs.map(_.cust).sum, rs.map(r => (r.price * 100).toLong).sum)
}

object DmlChurn {
  val T = "main.churn"
  val Dim = "main.dim"
  val MvPrio = "main.mv_prio"
  val MvSeg = "main.mv_seg"
  /** view -> its group column */
  val Views = Seq(MvPrio -> "o_orderpriority", MvSeg -> "c_mktsegment")
  private val ViewCols = Seq("n_rows", "sum_o_custkey", "min_o_orderkey", "max_o_orderkey")
  val InlineLimit = 16
  val OpenTail = 8
  /** One block: the same op sequence in every block and every run (the
    * seed draws keys, ranges and values), so the table's file and delete
    * layout evolves the same way and seeds do not differ in mix or order.
    * "maint" vacuums the churn table and checkpoints the log. */
  val Script = Seq("point_read", "insert", "append", "range_read", "delete", "point_read",
    "insert", "update", "range_read", "append", "merge", "range_read", "cdf_read",
    "point_read", "insert", "delete", "range_read", "mv_refresh", "append", "insert",
    "update", "point_read", "range_read", "maint")

  private val Checksum = Seq(count(lit(1)), sum("o_orderkey"), sum("o_custkey"),
    sum((col("o_totalprice") * 100).cast("long"))).map(c => coalesce(c, lit(0L)))

  /** per-row checksum term of the change-feed identity; `hash` is its
    * driver-side twin (same integer arithmetic, so the two agree exactly) */
  private val RowHash: Column = pmod(col("o_orderkey") * 1000003L + col("o_custkey") * 8191L +
    (col("o_totalprice") * 100).cast("long") * 127L + ascii(col("o_orderstatus")) * 31L +
    ascii(col("o_orderpriority")), lit(1L << 31))
  private def hash(r: R): Long = java.lang.Math.floorMod(r.key * 1000003L + r.cust * 8191L +
    (r.price * 100).toLong * 127L + r.status.charAt(0).toLong * 31L + r.prio.charAt(0).toLong,
    1L << 31)
  def fingerprint(rs: Iterable[R]): (Long, Long) = (rs.size.toLong, rs.map(hash).sum)

  /** model row; the order date as microseconds since the epoch */
  final case class R(key: Long, cust: Long, status: String, price: Double, dateUs: Long, prio: String) {
    def ts: Timestamp = new Timestamp(dateUs / 1000)
    def row: Row = Row(key, cust, status, price, ts, prio)
    def values: Seq[Any] = Seq(key, cust, status, price, ts, prio)
  }
  object R {
    def apply(r: Row): R = {
      val t = r.getTimestamp(4)
      R(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        t.getTime * 1000 + (t.getNanos / 1000) % 1000, r.getString(5))
    }
  }

  /** Driver-only synthetic catalog: tables whose file entries and column
    * stats exist only in metadata. Committed straight through
    * `MetadataStore.commit`; nothing ever reads their (absent) data. */
  object Synthetic {
    val Tables = 20
    val FilesPerTable = 250
    val FilesPerCommit = 50
    private val Cols = Seq("id" -> "bigint", "k" -> "bigint", "v" -> "double", "ts" -> "timestamp")

    def build(lake: Lake, seed: Long): Unit = {
      val store = lake.store
      val st = store.state()
      var sid = st.currentSnapshotId
      var fileId = st.nextFileId
      val tid0 = st.nextTableId
      val r = new scala.util.Random(seed)
      val now = System.currentTimeMillis()
      var schemaVersion = st.snapshots.lastOption.map(_.schemaVersion).getOrElse(0L)
      def snap(change: String, ddl: Boolean = false) = {
        sid += 1
        if (ddl) schemaVersion = sid
        Snapshot(sid, now, schemaVersion, List(change))
      }
      val tables = (0 until Tables).map(i => TableEntry(tid0 + i, "main", f"syn_$i%02d", sid + 1, None))
      store.commit(CommitDelta(snap("created_table:syn", ddl = true), newTables = tables.toList,
        newColumns = tables.flatMap(t => Cols.zipWithIndex.map { case ((n, ty), j) =>
          ColumnEntry(t.tableId, j + 1, j, n, ty, nullable = true, None, sid, None)
        }).toList))
      for (t <- tables; b <- 0 until FilesPerTable / FilesPerCommit) {
        val s = snap(s"inserted_into_table:${t.tableId}")
        val files = (0 until FilesPerCommit).map { i =>
          val fid = fileId + i
          val name = f"syn-${t.tableId}-$fid.parquet"
          DataFileEntry(fid, t.tableId, s"${lake.root}/syn/$name", name, 10000L, 400000L + r.nextInt(1000),
            (b * FilesPerCommit + i) * 10000L, 0L, explicitRowIds = false, Map.empty, sid, None)
        }
        fileId += FilesPerCommit
        val stats = files.flatMap { f =>
          val lo = f.firstRowId
          Seq(FileColumnStats(f.fileId, "id", "bigint", Some(lo.toString), Some((lo + 9999).toString), 0),
            FileColumnStats(f.fileId, "k", "bigint", Some(r.nextInt(1000).toString), Some((1000 + r.nextInt(1000)).toString), 0),
            FileColumnStats(f.fileId, "v", "double", Some("0.0"), Some(r.nextDouble().toString), 3),
            FileColumnStats(f.fileId, "ts", "timestamp", Some("2024-01-01 00:00:00.0"), Some("2024-12-31 00:00:00.0"), 0))
        }
        store.commit(CommitDelta(s, newFiles = files.toList, newStats = stats.toList))
      }
      store.state()
    }
  }
}
