package graft.engine

/** Best-effort global rows/sec throttle (R2/R3) — the analog of the
  * reference's sliding-window limiter (`migration.go:212-268`): track
  * rows admitted since the window start; if we are ahead of
  * `limit * elapsed`, sleep until the ideal time catches up.
  *
  * Divergence from the reference, documented (SURVEY §7.4.4): Spark
  * executes each wave of chunks ([[Waves]]) as one distributed query, so
  * the budget is enforced at wave granularity on the driver — between
  * waves, never inside a task. Per-row pacing on executors would
  * serialize the cluster; this bounds sustained throughput while leaving
  * tasks free to run at full speed within a wave. Thread-safe across
  * concurrent table jobs (process-wide budget, like the reference's
  * global limiter).
  */
final class RateLimiter(rowsPerSec: Long,
                        now: () => Long = () => System.currentTimeMillis(),
                        sleep: Long => Unit = Thread.sleep,
                        maxCreditMs: Long = 1000L) {
  require(rowsPerSec > 0, "rate limit must be positive")
  private var windowStart = -1L
  private var admitted = 0L

  /** Charge `rows` against the budget; sleeps if ahead of schedule.
    * Returns the milliseconds slept (for tests/telemetry). */
  def acquire(rows: Long): Long = {
    val toSleep = synchronized {
      val t = now()
      if (windowStart < 0) windowStart = t
      // Sliding window (reference migration.go:212-268): a caller far
      // behind schedule (long chunks, idle gaps) banks at most
      // `maxCreditMs` of budget. Slide BEFORE charging the new rows so
      // the first burst after an idle gap is paced too — without the
      // slide, accrued credit admits an arbitrarily large burst.
      val preIdealMs = admitted * 1000.0 / rowsPerSec
      if ((t - windowStart) - preIdealMs > maxCreditMs)
        windowStart = t - (preIdealMs.toLong + maxCreditMs)
      admitted += rows
      val idealMs = admitted * 1000.0 / rowsPerSec
      val aheadMs = idealMs - (t - windowStart)
      if (aheadMs > 0) aheadMs.toLong else 0L
    }
    if (toSleep > 0) sleep(toSleep)
    toSleep
  }
}
