package dedupbench

/** Counts every API call and output check as one attempted operation; a
  * thrown call or a failed check is a failed one. */
final class Ledger {
  private var attemptedN = 0
  private var failedN = 0
  def attempted: Int = attemptedN
  def failed: Int = failedN

  def call[T](what: String)(body: => T): Option[T] = {
    attemptedN += 1
    try Some(body)
    catch {
      case t: Throwable =>
        failedN += 1
        System.err.println(s"[dedupbench] $what threw: $t")
        t.printStackTrace()
        None
    }
  }

  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    attemptedN += 1
    if (!ok) failedN += 1
    println(s"# check ${if (ok) "ok  " else "FAIL"} $what${if (detail.isEmpty) "" else s" ($detail)"}")
    ok
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
