package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import graft.lake.{CommitConflictException, MetadataStore}
import graft.lake.Meta.{CatalogState, CommitDelta}

/** One recorded span: a call into a layer, made by the benchmark. */
final case class Span(id: Int, parent: Int, op: Long, name: String, startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
}

/** Spans around every call the benchmark makes into a layer, plus counts
  * recorded at the same boundaries. Spans are kept in memory and written
  * when the run ends. Disabled, `span` is a plain call and records nothing.
  *
  * While a span is open its id is the SparkContext local property
  * [[Tracer.SpanProp]], so every Spark job it submits (including jobs that
  * broadcast threads submit on its behalf, which inherit local properties)
  * can be attributed to the innermost layer that caused it. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  /** (op, layer, counter) -> value; op -1 = outside any op */
  val counts = mutable.LinkedHashMap.empty[(Long, String, String), Double]
  var currentOp: Long = -1L
  private var stack: List[(Int, String)] = Nil
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      stack = (id, name) :: stack
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_._1.toString).orNull)
        spans += Span(id, parent, currentOp, name, t0, t1)
      }
    }

  /** innermost open span that is not a metadata call: the layer on whose
    * behalf a commit is made */
  def callerLayer: String =
    stack.map(_._2).find(n => !n.startsWith("meta.")).map(Tracer.layerOf).getOrElse("none")

  def count(layer: String, counter: String, v: Double): Unit = countAt(currentOp, layer, counter, v)

  def countAt(op: Long, layer: String, counter: String, v: Double): Unit =
    if (enabled) {
      val k = (op, layer, counter)
      counts(k) = counts.getOrElse(k, 0.0) + v
    }
}

object Tracer {
  val SpanProp = "perfbench.span"
  /** layer of a span name: "write.append" -> "write", "meta.state" -> "meta.state" */
  def layerOf(name: String): String =
    if (name.startsWith("meta.")) name else name.takeWhile(_ != '.')
}

/** Spark task/stage/job counters attributed to the op (job group) and
  * the span (local property) that submitted each job. */
final class JobListener extends SparkListener {
  final class C {
    var jobs, stages, tasks, inputBytes, inputRecords, shuffleWrite, shuffleRead,
      cpuNs, gcMs = 0L
  }
  private val stageOwner = mutable.HashMap.empty[Int, (Long, Int)]
  val byOpSpan = mutable.HashMap.empty[(Long, Int), C]

  private def c(k: (Long, Int)): C = byOpSpan.getOrElseUpdate(k, new C)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
    val tags = p.flatMap(x => Option(x.getProperty("spark.job.tags"))).getOrElse("")
    val op = (group.toSeq ++ tags.split(',')).collectFirst {
      case g if g.startsWith(JobListener.OpPrefix) => g.stripPrefix(JobListener.OpPrefix).toLong
    }.getOrElse(-1L)
    val span = p.flatMap(x => Option(x.getProperty(Tracer.SpanProp))).map(_.toInt).getOrElse(0)
    val k = (op, span)
    c(k).jobs += 1
    e.stageIds.foreach(s => stageOwner(s) = k)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageOwner.get(e.stageInfo.stageId).foreach(k => c(k).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val k = stageOwner.getOrElse(e.stageId, (-1L, 0))
    val x = c(k)
    x.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      x.inputBytes += m.inputMetrics.bytesRead
      x.inputRecords += m.inputMetrics.recordsRead
      x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      x.cpuNs += m.executorCpuTime
      x.gcMs += m.jvmGCTime
    }
  }
}

object JobListener {
  val OpPrefix = "perfbench-op-"
}

/** Metadata probe: times `state()` and `commit()` and counts the log
  * primitives under them. It is passed to the program as
  * `new Lake(spark, root, Some(probe))`, so the program's own fold, cache
  * and retry logic run unchanged. */
final class ProbeStore(root: String, tracer: Tracer) extends MetadataStore(root) {
  private def bump(k: String): Unit = tracer.count("meta", k, 1.0)

  override protected def listSnapshotIds(): Vector[Long] = {
    bump("log_lists"); super.listSnapshotIds()
  }
  override protected def readDeltaJson(sid: Long): String = {
    bump("delta_reads"); super.readDeltaJson(sid)
  }
  override protected def readCheckpointJson(sid: Long): String = {
    bump("checkpoint_reads"); super.readCheckpointJson(sid)
  }
  override protected def putDeltaIfAbsent(sid: Long, json: String): Boolean = {
    bump("cas_attempts"); super.putDeltaIfAbsent(sid, json)
  }

  override def state(): CatalogState = {
    bump("state_calls")
    tracer.span("meta.state")(super.state())
  }

  override def commit(delta: CommitDelta): Unit = {
    bump("commits")
    tracer.span("meta.commit") {
      try super.commit(delta)
      catch { case e: CommitConflictException => bump("commit_retries"); throw e }
    }
    if (tracer.enabled) {
      val layer = tracer.callerLayer
      tracer.count(layer, "files_added", delta.newFiles.size.toDouble)
      tracer.count(layer, "bytes_added", delta.newFiles.map(_.fileSizeBytes).sum.toDouble)
      tracer.count(layer, "delete_files_added", delta.newDeleteFiles.size.toDouble)
      tracer.count(layer, "files_ended", delta.endedFiles.size.toDouble)
    }
  }
}
