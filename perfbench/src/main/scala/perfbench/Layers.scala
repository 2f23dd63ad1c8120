package perfbench

import scala.collection.mutable

/** Per-layer summary of a traced run: self time and call count per span
  * name, the Spark counters of the jobs each span submitted, and the
  * counts recorded at layer boundaries. Everything is restricted to the
  * measured ops and given per op (the figure a later change compares) and
  * as a run total (in the artifact). */
final case class Layers(tracer: Tracer, listener: JobListener, ops: Seq[OpRec],
    sizes: Map[String, Double], tracedP50: Double, openMs: Double) {

  private val opIds: Set[Long] = ops.map(_.id).toSet
  private val nOps = ops.size.toDouble
  private val spans = tracer.spans.filter(s => opIds.contains(s.op)).toSeq
  private val spanName: Map[Int, String] = tracer.spans.map(s => s.id -> s.name).toMap
  private val childNs: Map[Int, Long] =
    spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ns).sum }

  /** span name -> (calls, self ns, total ns) */
  val time: Map[String, (Int, Long, Long)] = spans.groupBy(_.name).map { case (n, ss) =>
    n -> ((ss.size, ss.map(s => s.ns - childNs.getOrElse(s.id, 0L)).sum, ss.map(_.ns).sum))
  }

  private val counterNames = Seq("jobs", "stages", "tasks", "input_bytes", "input_records",
    "shuffle_write_bytes", "shuffle_read_bytes", "executor_cpu_ms", "gc_ms")
  private def values(c: JobListener#C): Seq[Double] = Seq(c.jobs, c.stages, c.tasks,
    c.inputBytes, c.inputRecords, c.shuffleWrite, c.shuffleRead, c.cpuNs / 1e6, c.gcMs)
    .map(_.toDouble)

  private val measuredSpark = listener.byOpSpan.toSeq.filter { case ((op, _), _) => opIds.contains(op) }

  /** span name -> Spark counter totals of the jobs it submitted directly */
  val spark: Map[String, Map[String, Double]] = measuredSpark
    .groupBy { case ((_, span), _) => spanName.getOrElse(span, "op") }
    .map { case (n, cs) =>
      n -> counterNames.zip(cs.map(x => values(x._2)).transpose.map(_.sum)).toMap
    }

  /** op -> Spark counter totals of every job in that op */
  val perOpSpark: Map[Long, Map[String, Double]] = measuredSpark
    .groupBy(_._1._1)
    .map { case (op, cs) => op -> counterNames.zip(cs.map(x => values(x._2)).transpose.map(_.sum)).toMap }

  /** layer.counter -> run total over measured ops */
  val counts: Map[String, Double] = tracer.counts.toSeq
    .collect { case ((op, layer, c), v) if opIds.contains(op) => s"$layer.$c" -> v }
    .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }

  private def perOpCounts(op: Long): Map[String, Double] = tracer.counts.toSeq
    .collect { case ((o, layer, c), v) if o == op => s"$layer.$c" -> v }.toMap

  private def unitOf(counter: String) =
    if (counter.endsWith("_bytes")) "B/op" else if (counter.endsWith("_ms")) "ms/op" else "count/op"
  private def prefix(span: String) = if (span.contains('.')) s"${span}_" else s"$span."
  private def selfMs(p: String => Boolean): Double =
    time.collect { case (n, (_, self, _)) if p(n) => self / 1e6 }.sum
  private def sparkSum(p: String => Boolean, c: String): Double =
    spark.collect { case (n, m) if p(n) => m(c) }.sum
  private def layer(l: String)(n: String) = n == l || n.startsWith(l + ".")

  /** the per-layer metrics (name -> (value, unit)), per measured op */
  def metrics: Map[String, (Double, String)] = {
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def per(name: String, total: Double, unit: String): Unit = m(name) = (total / nOps, unit)
    def cnt(k: String) = counts.getOrElse(k, 0.0)

    Seq("meta.state", "meta.commit", "plan", "exec", "write.append", "write.insert",
      "write.delete", "write.update", "write.merge", "maint.vacuum", "maint.checkpoint",
      "cdf", "mv.refresh", "mv.read").foreach { s =>
      per(prefix(s) + "ms", selfMs(_ == s), "ms/op")
    }
    per("op.self_ms", selfMs(_ == "op"), "ms/op")
    per("maint.ms", selfMs(layer("maint")), "ms/op")
    per("meta.state_calls", cnt("meta.state_calls"), "count/op")
    per("meta.log_lists", cnt("meta.log_lists"), "count/op")
    per("meta.delta_reads", cnt("meta.delta_reads"), "count/op")
    per("meta.checkpoint_reads", cnt("meta.checkpoint_reads"), "count/op")
    per("meta.commits", cnt("meta.commits"), "count/op")
    per("meta.commit_retries", cnt("meta.commit_retries"), "count/op")
    sizes.foreach { case (k, v) => m(k) = (v, "count") }
    m("meta.open_ms") = (openMs, "ms")

    per("plan.files_total", cnt("plan.files_total"), "count/op")
    per("plan.files_kept", cnt("plan.files_kept"), "count/op")
    m("plan.prune_ratio") = (
      if (cnt("plan.files_total") > 0) cnt("plan.files_kept") / cnt("plan.files_total") else 1.0,
      "ratio")
    per("plan.jobs", sparkSum(_ == "plan", "jobs"), "count/op")
    counterNames.foreach(c => per(s"exec.$c", sparkSum(_ == "exec", c), unitOf(c)))
    per("scan.delete_files_live", cnt("scan.delete_files_live"), "count/op")

    Seq("append", "insert", "delete", "update", "merge").foreach { k =>
      per(s"write.${k}_jobs", sparkSum(_ == s"write.$k", "jobs"), "count/op")
    }
    Seq("jobs", "tasks", "input_bytes", "shuffle_write_bytes").foreach { c =>
      per(s"write.$c", sparkSum(layer("write"), c), unitOf(c))
    }
    per("write.files_added", cnt("write.files_added"), "count/op")
    per("write.bytes_added", cnt("write.bytes_added"), "B/op")
    per("write.delete_files_added", cnt("write.delete_files_added"), "count/op")

    per("maint.jobs", sparkSum(layer("maint"), "jobs"), "count/op")
    per("maint.bytes_rewritten", cnt("maint.bytes_added"), "B/op")
    val maintCalls = math.max(1.0, cnt("maint.calls"))
    m("maint.files_before") = (cnt("maint.files_before") / maintCalls, "count/call")
    m("maint.files_after") = (cnt("maint.files_after") / maintCalls, "count/call")

    per("cdf.rows", cnt("cdf.rows"), "count/op")
    per("cdf.jobs", sparkSum(_ == "cdf", "jobs"), "count/op")
    Seq("jobs", "tasks", "input_bytes").foreach { c =>
      per(s"mv.refresh_$c", sparkSum(_ == "mv.refresh", c), unitOf(c))
    }
    per("mv.refresh_shuffle_bytes", sparkSum(_ == "mv.refresh", "shuffle_write_bytes"), "B/op")
    per("mv.read_jobs", sparkSum(_ == "mv.read", "jobs"), "count/op")

    Seq("jobs", "stages", "tasks").foreach { c =>
      per(s"op.$c", perOpSpark.values.map(_(c)).sum, "count/op")
    }
    m("trace.op_ms_p50") = (tracedP50, "ms")
    m.toMap
  }

  def artifact: Map[String, Any] = Map(
    "layers" -> time.map { case (n, (calls, self, total)) =>
      n -> (Map("calls" -> calls, "self_ms" -> self / 1e6, "self_ms_per_op" -> self / 1e6 / nOps,
        "total_ms" -> total / 1e6) ++ spark.getOrElse(n, Map.empty))
    },
    "layer_counts_total" -> counts,
    "per_layer_metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    // compared op by op between two traced runs of one seed (run.py --all)
    "per_op" -> ops.map { o =>
      val s = perOpSpark.getOrElse(o.id, Map.empty)
      val c = perOpCounts(o.id)
      Map("op" -> o.id, "kind" -> o.kind, "ms" -> o.ms,
        "jobs" -> s.getOrElse("jobs", 0.0), "stages" -> s.getOrElse("stages", 0.0),
        "tasks" -> s.getOrElse("tasks", 0.0),
        "files_total" -> c.getOrElse("plan.files_total", 0.0),
        "files_kept" -> c.getOrElse("plan.files_kept", 0.0),
        "files_added" -> c.collect { case (k, v) if k.endsWith(".files_added") => v }.sum,
        "delete_files_added" -> c.collect { case (k, v) if k.endsWith(".delete_files_added") => v }.sum)
    },
    "spans" -> tracer.spans.map(s => Seq(s.id, s.parent, s.op, s.name, s.startNs, s.endNs)))
}
