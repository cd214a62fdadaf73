package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Attempted / failed accounting: every operation whose call threw or
  * whose output did not match its reference counts once as failed. */
final class Tally {
  private var attempted0 = 0L
  private var failed0 = 0L
  private val errors = scala.collection.mutable.ArrayBuffer[String]()

  def ok(): Unit = attempted0 += 1
  def fail(what: String): Unit = {
    attempted0 += 1
    failed0 += 1
    if (errors.length < 20) errors += what
  }
  def check(cond: Boolean, what: => String): Unit =
    if (cond) ok() else fail(what)

  def attempted: Long = attempted0
  def failed: Long = failed0
  def failedShare: Double = if (attempted0 == 0) 1.0 else failed0.toDouble / attempted0
  def firstErrors: Seq[String] = errors.toSeq
}
