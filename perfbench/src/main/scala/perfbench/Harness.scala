package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{Row, SparkSession}

/** One client op as the closed loop saw it. */
final case class OpRec(id: Long, kind: String, ms: Double, error: Option[String], measured: Boolean)

/** Closed loop, one client: the next op is issued only after the previous
  * one and its result check have finished.
  *
  * Each op runs under its own Spark job group (and job tag), so the
  * listener attributes every job to exactly one op. Result checks run
  * after the op's clock stops, outside its job group, and their time is
  * excluded from the measured phase. */
final class Harness(val spark: SparkSession, val tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  private var measuring = false
  private var excludedNs = 0L
  private var lastOp = 0L

  /** id the next op will get */
  def nextOpId: Long = lastOp + 1

  def op[A](kind: String)(run: => A)(check: A => Option[String]): Unit = {
    lastOp += 1
    val id = lastOp
    val group = JobListener.OpPrefix + id
    val sc = spark.sparkContext
    sc.setJobGroup(group, kind, interruptOnCancel = false)
    sc.addJobTag(group)
    tracer.currentOp = id
    val t0 = System.nanoTime()
    val res: Either[Throwable, A] =
      try Right(tracer.span("op")(run)) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    tracer.currentOp = -1L
    sc.removeJobTag(group)
    sc.clearJobGroup()
    val error = untimed {
      res match {
        case Left(e) => Some(s"$kind threw $e")
        case Right(a) =>
          try check(a).map(m => s"$kind: $m")
          catch { case NonFatal(e) => Some(s"$kind check threw $e") }
      }
    }
    error.foreach(e => System.err.println(s"perfbench: op $id FAILED: $e"))
    ops += OpRec(id, kind, ms, error, measuring)
  }

  /** work inside the measured phase that is not part of any op's cost */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally excludedNs += System.nanoTime() - t0
  }

  /** Run `warmup` ops unmeasured, then whole blocks of `block` ops until
    * `seconds` of measured time have passed: every run measures whole
    * blocks of the workload's deck, so every run has the same op mix.
    * Returns the measured wall time in seconds (op time plus loop
    * overhead, checks excluded). */
  def measure(seconds: Int, warmup: Int, block: Int)(next: () => Unit): Double = {
    (1 to warmup).foreach(_ => next())
    measuring = true
    excludedNs = 0L
    val t0 = System.nanoTime()
    def elapsed: Long = System.nanoTime() - t0 - excludedNs
    while (elapsed < seconds * 1000000000L) (1 to block).foreach(_ => next())
    val wall = elapsed / 1e9
    measuring = false
    wall
  }

  def measured: Seq[OpRec] = ops.filter(_.measured).toSeq
}

/** Result comparison shared by the workloads. */
object Check {
  /** rows equal in order; doubles within a relative 1e-9 */
  def sameRows(got: Seq[Row], want: Seq[Row]): Option[String] =
    if (got.size != want.size) Some(s"${got.size} rows, expected ${want.size}")
    else got.zip(want).zipWithIndex.collectFirst {
      case ((g, w), i) if !sameRow(g, w) => s"row $i is $g, expected $w"
    }

  private def sameRow(g: Row, w: Row): Boolean =
    g.length == w.length && (0 until g.length).forall { i =>
      (g.get(i), w.get(i)) match {
        case (a: Double, b: Double) =>
          a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
        case (a, b) => a == b
      }
    }

  def sorted(rows: Seq[Row]): Seq[Row] = rows.sortBy(_.toString)
}

/** Seeded op chooser with fixed proportions: every block of `cards.size`
  * draws holds each card once, in a seeded order, so two seeds differ in
  * op order and parameters but not in op mix. */
final class Deck[A](rnd: scala.util.Random, cards: Seq[A]) {
  private var hand: List[A] = Nil
  def next(): A = {
    if (hand.isEmpty) hand = rnd.shuffle(cards).toList
    val c = hand.head
    hand = hand.tail
    c
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile that still has at least ten samples above it:
    * (value, percentile, sample count). Needs at least 11 samples. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    require(n >= 11, s"tail needs at least 11 samples, got $n")
    (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}
