package perfbench

import scala.util.control.NonFatal

/** Failure accounting and the statistics the harness reports.
  *
  * An op fails when it throws (NonFatal only: a fatal JVM error must end
  * the run, not read as a timing), returns a row count other than the
  * expected one, or its output fingerprint differs from the golden one.
  * A failed op counts in `failed` and never enters the op percentiles;
  * a pass holding a failed op never enters the pass wall time. */
final case class Sample(pass: Int, op: String, seconds: Double)

final class Ledger {
  private val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
  private val failures = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
  private val passWalls = scala.collection.mutable.Map.empty[Int, Double]
  var attempted = 0

  /** Time `body` (which returns the op's row count) and book the outcome.
    * Returns true when the op succeeded. */
  def time(pass: Int, op: String, expectedRows: Option[Long])(body: => Long): Boolean = {
    attempted += 1
    val t0 = System.nanoTime()
    val outcome: Either[String, Long] =
      try Right(body) catch { case NonFatal(e) => Left(s"threw $e") }
    val dt = (System.nanoTime() - t0) / 1e9
    outcome.flatMap { rows =>
      if (expectedRows.forall(_ == rows)) Right(rows)
      else Left(s"returned $rows rows, expected ${expectedRows.get}")
    } match {
      case Right(_) => samples += Sample(pass, op, dt); true
      case Left(why) => failures += ((pass, op, why)); false
    }
  }

  def passDone(pass: Int, wall: Double): Unit = passWalls(pass) = wall

  /** Fail every booked sample of `op` (a fingerprint mismatch found after
    * the timed loop): the samples leave the percentiles and their passes
    * leave the wall time. */
  def failOp(op: String, why: String): Unit = {
    val (bad, good) = samples.partition(_.op == op)
    samples.clear(); samples ++= good
    bad.foreach(s => failures += ((s.pass, op, why)))
  }

  def failed: Int = failures.size
  def failureLog: Seq[(Int, String, String)] = failures.toSeq
  private def failedPasses: Set[Int] = failures.map(_._1).toSet
  def okSamples: Seq[Sample] = samples.filterNot(s => failedPasses(s.pass)).toSeq
  def okPasses: Seq[Int] = passWalls.keys.filterNot(failedPasses).toSeq.sorted
  def passWall(p: Int): Double = passWalls(p)
}

object Stats {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest of the fixed percentiles that leaves at least ten of
    * `n` samples beyond it (50 when n < 20). The harness fixes it from the
    * guaranteed sample count, so it does not move with the run's speed. */
  def tailPercentile(n: Int): Int =
    Seq(99, 95, 90, 75).find(p => n * (100 - p) / 100.0 >= 10).getOrElse(50)

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Int): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s((math.ceil(p / 100.0 * s.size).toInt - 1).max(0))
    }
}
