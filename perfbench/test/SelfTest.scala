package perfbench

/** Self-test of the failure accounting (no Spark needed):
  *
  *   python3 perfbench/run.py --selftest
  *
  * Feeds deliberately failing ops through the Ledger and checks that a
  * failure counts against `failed` and never reaches the op percentiles
  * or the pass wall time, and that fatal errors are not swallowed. */
object SelfTest {
  private var failures = 0
  private def check(ok: Boolean, what: String): Unit =
    if (!ok) { failures += 1; println(s"FAIL $what") } else println(s"ok   $what")

  def main(args: Array[String]): Unit = {
    val l = new Ledger
    l.time(1, "good", Some(3L))(3L)
    l.time(1, "throws", Some(1L))(throw new RuntimeException("deliberate"))
    l.passDone(1, 1.0)
    l.time(2, "good", Some(3L))(3L)
    l.time(2, "short", Some(5L))(4L)
    l.passDone(2, 2.0)
    l.time(3, "good", Some(3L)) { Thread.sleep(20); 3L }
    l.time(3, "fingerprint", Some(1L))(1L)
    l.passDone(3, 3.0)
    l.time(4, "good", Some(3L))(3L)
    l.passDone(4, 4.0)

    check(l.attempted == 7, s"attempted counts every op (got ${l.attempted})")
    check(l.failed == 2, s"a throw and a wrong row count are failures (got ${l.failed})")
    check(l.okPasses == Seq(3, 4), s"passes holding a failure leave the wall time (got ${l.okPasses})")
    check(!l.okSamples.exists(s => s.pass <= 2),
      "no sample of a failed pass enters the percentiles")
    check(!l.okSamples.exists(s => s.op == "throws" || s.op == "short"),
      "a failed op is never a timing")

    l.failOp("fingerprint", "fingerprint differs from golden")
    check(l.failed == 3, s"a fingerprint mismatch found after the loop is a failure (got ${l.failed})")
    check(l.okPasses == Seq(4), s"...and takes its pass out of the wall time (got ${l.okPasses})")
    check(l.okSamples.map(_.op) == Seq("good"), s"...and its samples out of the percentiles")

    val fatal =
      try { l.time(5, "fatal", None)(throw new StackOverflowError("deliberate")); false }
      catch { case _: StackOverflowError => true }
    check(fatal, "a fatal JVM error propagates instead of being booked as a failure")

    check(Stats.tailPercentile(39) == 50 && Stats.tailPercentile(40) == 75,
      "the tail percentile leaves ten samples beyond it")
    check(Stats.tailPercentile(100) == 90 && Stats.tailPercentile(1000) == 99, "...at any sample count")
    check(Stats.percentile((1 to 40).map(_.toDouble), 75) == 30.0, "nearest-rank p75 of 40 samples")
    check(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median of an even count")

    println(if (failures == 0) "selftest passed" else s"selftest FAILED ($failures)")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
