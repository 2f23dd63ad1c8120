package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import graft.lake.Lake

/** A workload: a lake built at `root`, and a stream of client ops on it. */
trait Workload {
  /** build the workload's lake (timed as setup_s) */
  def setup(): Unit
  /** ops run before measuring, to warm the JVM and the caches */
  def warmupOps: Int
  /** ops per block of the workload's deck; a run measures whole blocks */
  def block: Int
  def next(h: Harness): Unit
  /** brings the log to the shape the cold opens read (called once, after
    * measuring and before the final check) */
  def beforeOpen(): Unit = ()
  /** checks over the whole final state; None when they pass */
  def finalCheck(): Option[String]
  /** table whose first plan stops the cold-open clock */
  def openTable: String
  /** tables whose live rows make up the user data of stored_per_live_byte */
  def liveTables: Seq[String]
  /** workload-specific figures for the artifact */
  def extra(h: Harness): Map[String, Any] = Map.empty
}

final case class Env(spark: SparkSession, seed: Long, input: String, tracer: Tracer) {
  def lake(root: String): Lake = new Lake(spark, root, Some(new ProbeStore(root, tracer)))
}

/** Entry point: `--workload w --seed n --seconds s --trace 0|1 --work dir
  * --out file --cpus k --tree id`. Writes the artifact to `--out`; its
  * "result" object is the line run.py prints. */
object Main {
  /** workload -> the generated input tables it reads */
  val Workloads = Map("olap_scan" -> Gen.Tables, "dml_churn" -> Seq("orders", "customer"))
  val Scale = Gen.Sizes(0.01)
  val Setups = 3
  /** untimed cold opens for this long warm the JIT on the open path
    * (checkpoint parse, tail fold, first plan), which the measured ops
    * barely touch */
  val OpenWarmupSeconds = 2
  /** timed opens run for this long, and at least `MinOpens` times: the
    * median spans seconds of the host's speed, not a burst of opens */
  val OpenSeconds = 8
  val MinOpens = 15

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt
    val work = new File(a("work")).getAbsolutePath
    deleteRecursively(new File(work))
    new File(work).mkdirs()

    val builder = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // Spark's own job/SQL history is bounded, so heap_mb measures the
      // lake's driver state rather than how many jobs the run happened to make
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "200")
      .config("spark.sql.ui.retainedExecutions", "20")
    graft.queries.Tables.sessionConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val artifact = run(spark, workload, seed, seconds, traced, work)
      val full = artifact ++ Map("workload" -> workload, "seed" -> seed,
        "seconds" -> seconds, "trace" -> traced, "cpus" -> cpus, "tree" -> a("tree"),
        "scale" -> Map("sf" -> Scale.sf, "orders" -> Scale.orders,
          "lineitem" -> Scale.lineitems, "customer" -> Scale.customers),
        "loop" -> "closed, 1 client")
      Files.write(Paths.get(a("out")), Json(full).getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  private def make(name: String, env: Env, root: String): Workload = name match {
    case "olap_scan" => new OlapScan(env, root)
    case "dml_churn" => new DmlChurn(env, root)
  }

  def run(spark: SparkSession, name: String, seed: Long, seconds: Int,
      traced: Boolean, work: String): Map[String, Any] = {
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
      System.err.println(f"perfbench: phase $name%s ${phases(name)}%.2f s")
    }
    val tracer = new Tracer(traced, spark.sparkContext)
    val input = s"$work/input"
    Gen.write(spark, seed, Scale, input, Workloads(name))
    phase("generate")
    val env = Env(spark, seed, input, tracer)

    // set-up, several times: the median is setup_s, the last lake is used
    var w: Workload = null
    val setupS = (0 until Setups).map { i =>
      val root = s"$work/lake-$i"
      if (w != null) deleteRecursively(new File(s"$work/lake-${i - 1}"))
      w = make(name, env, root)
      val t0 = System.nanoTime()
      w.setup()
      (System.nanoTime() - t0) / 1e9
    }
    val root = s"$work/lake-${Setups - 1}"
    phase("setup")

    val listener = if (traced) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val h = new Harness(spark, tracer)
    val wall = h.measure(seconds, w.warmupOps, w.block)(() => w.next(h))
    phase("measure")
    val heapMb = {
      // the context cleaner frees broadcast blocks only after a GC finds
      // them unreachable, so collect, let it run, and collect again
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
      val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      m.getUsed / 1048576.0
    }
    listener.foreach { l =>
      PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }

    w.beforeOpen()
    val finalErr = w.finalCheck()
    finalErr.foreach(e => System.err.println(s"perfbench: final check FAILED: $e"))
    phase("final_check")

    // cold open, in traced runs only (per-layer meta.open_ms): a fresh store
    // and Lake on the root, stopped at the first plan, each on a collected
    // heap so no open pays for the garbage of the one before it. The first
    // opens only warm the JIT. It is not an end-to-end metric: on dml_churn
    // the open is mostly one thread parsing a 3.6 MB checkpoint, and on a
    // shared 4-core VM its median moved by a quarter between runs minutes
    // apart, past the bound that any run length could hold it to.
    val offTracer = new Tracer(false, spark.sparkContext)
    def open(): Double = {
      System.gc()
      val t0 = System.nanoTime()
      val lake = new Lake(spark, root, Some(new ProbeStore(root, offTracer)))
      lake.table(w.openTable).queryExecution.executedPlan
      (System.nanoTime() - t0) / 1e6
    }
    def opens(seconds: Int, min: Int): Seq[Double] = {
      val out = mutable.ArrayBuffer.empty[Double]
      val end = System.nanoTime() + seconds * 1000000000L
      while (out.size < min || System.nanoTime() < end) out += open()
      out.toSeq
    }
    val openMs = if (!traced) Nil else {
      opens(OpenWarmupSeconds, 1)
      opens(OpenSeconds, MinOpens)
    }
    phase("open")

    val storedBytes = dirBytes(new File(root))
    val liveBytes = {
      val lake = new Lake(spark, root)
      w.liveTables.map { t =>
        val out = s"$work/live/$t"
        lake.table(t).write.mode("overwrite").parquet(out)
        dirBytes(new File(out))
      }.sum
    }
    val st = new Lake(spark, root).store.state()
    phase("stored_bytes")

    val measured = h.measured
    val lat = measured.map(_.ms)
    val (tail, tailPct, n) = Stats.tail(lat)
    val failed = measured.count(_.error.nonEmpty)
    val p50 = Stats.median(lat)
    val endToEnd: Map[String, (Double, String)] = Map(
      "setup_s" -> (Stats.median(setupS), "s"),
      "op_ms_p50" -> (p50, "ms"),
      "op_ms_tail" -> (tail, "ms"),
      "ops_per_s" -> (measured.size / wall, "1/s"),
      "stored_per_live_byte" -> (storedBytes.toDouble / liveBytes, "ratio"),
      "heap_mb" -> (heapMb, "MiB"))
    val sizes = Map(
      "meta.snapshots" -> st.snapshots.size.toDouble,
      "meta.catalog_files" -> st.files.size.toDouble,
      "meta.catalog_stats_rows" -> st.stats.size.toDouble)
    val layers = listener.map(l => Layers(tracer, l, measured, sizes, p50, Stats.median(openMs)))

    val metrics = if (traced) layers.get.metrics else endToEnd
    val result = Map(
      "correct" -> (failed == 0 && finalErr.isEmpty),
      "attempted" -> measured.size,
      "failed" -> (failed + (if (finalErr.isEmpty) 0 else 1)),
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    Map(
      "result" -> result,
      "end_to_end" -> endToEnd.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "failed_share" -> failed.toDouble / measured.size,
      "tail" -> Map("percentile" -> tailPct, "samples" -> n),
      "setup_s_all" -> setupS, "open_ms_all" -> openMs,
      "stored_bytes" -> storedBytes, "live_bytes" -> liveBytes,
      "measured_wall_s" -> wall, "phases_s" -> phases,
      "failures" -> (measured.flatMap(_.error) ++ finalErr.toSeq),
      "ops_by_kind" -> measured.groupBy(_.kind).map { case (k, v) =>
        k -> Map("count" -> v.size, "ms_p50" -> Stats.median(v.map(_.ms))) }
    ) ++ w.extra(h) ++ layers.map(_.artifact).getOrElse(Map.empty)
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.isFile) f.length() else 0L

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }
}

/** Minimal JSON encoder for the artifact (maps, sequences, numbers,
  * strings, booleans). Non-finite numbers become null. */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }
  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null => sb ++= "null"
    case s: String => sb += '"'; s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }; sb += '"'
    case b: Boolean => sb ++= b.toString
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case m: collection.Map[_, _] =>
      sb += '{'
      m.toSeq.sortBy(_._1.toString).zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb += ','
        write(sb, k.toString); sb += ':'; write(sb, x)
      }
      sb += '}'
    case xs: Iterable[_] =>
      sb += '['
      xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; write(sb, x) }
      sb += ']'
    case other => write(sb, other.toString)
  }
}
