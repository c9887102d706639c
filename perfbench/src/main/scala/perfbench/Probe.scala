package perfbench

/** Fixed-work host-speed probe, the same computation as the one
  * `graft.Bench` stamps into its results: single-threaded xorshift64*
  * with a short-lived allocation every 8th step, over a fixed iteration
  * count; min of 3 timed reps after an untimed warm-up. Stamped before
  * and after a set of benchmark runs so that sets measured on different
  * hosts, or on a host whose speed drifted, can be normalized. */
object Probe {
  def ms(): Long = {
    def work(n: Int): Long = {
      var x = 0x9E3779B97F4A7C15L; var sink = 0L; var i = 0
      while (i < n) {
        x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
        val h = x * 0x2545F4914F6CDD1DL
        if ((i & 7) == 0) {
          val arr = new Array[Long](16)
          arr((h & 15).toInt) = h
          sink ^= arr(i & 15)
        }
        sink ^= h
        i += 1
      }
      sink
    }
    var guard = work(5000000)
    val best = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      guard ^= work(200000000)
      (System.nanoTime() - t0) / 1000000L
    }.min
    if (guard == 42L) System.err.println("probe guard") // keeps the work observable
    best
  }

  def main(args: Array[String]): Unit = println(s"probe_ms ${ms()}")
}
