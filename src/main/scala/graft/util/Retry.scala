package graft.util

/** Driver-side resilience utilities (SURVEY §2.8 R1-R3) with the
  * reference's configuration surface: exponential backoff with jitter
  * (etl/utils/retry.py:32-94) and the degradation re-run.
  *
  * Scope note: these guard DRIVER-side I/O only (HTTP landing, catalog
  * calls). Task-level resilience on the data path is Spark's job
  * (spark.task.maxFailures, excludeOnFailure) — re-implementing it would
  * fight the scheduler.
  */
object Retry {

  /** Reference defaults: 3 attempts, base 1s, ×2, cap 300s, jitter
    * 50-100% (retry.py:37-59, 85-94).
    */
  final case class RetryConfig(
      maxAttempts: Int = 3,
      baseDelayMs: Long = 1000,
      backoffFactor: Double = 2.0,
      maxDelayMs: Long = 300000,
      jitter: Boolean = true)

  /** delay = min(cap, base·factor^(n-1)) · jitter(0.5..1.0) — the exact
    * formula at retry.py:85-94.
    */
  def delayMs(cfg: RetryConfig, attempt: Int, rng: scala.util.Random = new scala.util.Random()): Long = {
    val raw = cfg.baseDelayMs * math.pow(cfg.backoffFactor, (attempt - 1).toDouble)
    val capped = math.min(cfg.maxDelayMs.toDouble, raw)
    val j = if (cfg.jitter) 0.5 + rng.nextDouble() / 2 else 1.0
    (capped * j).toLong
  }

  def withRetry[T](cfg: RetryConfig = RetryConfig(),
      isRecoverable: Throwable => Boolean = _ => true,
      sleep: Long => Unit = Thread.sleep)(body: => T): T = {
    var attempt = 1
    var last: Throwable = null
    while (attempt <= cfg.maxAttempts) {
      try return body
      catch {
        case e: Throwable if isRecoverable(e) && attempt < cfg.maxAttempts =>
          last = e
          sleep(delayMs(cfg, attempt))
          attempt += 1
        case e: Throwable =>
          throw e
      }
    }
    throw last
  }

  // -------------------------------------------------------------------------

  /** Graceful degradation (R3, escalation at recovery.py:303-332): a
    * failure re-runs `body` up to 3 more times, and the last failure is
    * rethrown at the floor (the caller falls through to SKIP,
    * recovery.py:310-312). The result carries the level (the 0-based
    * attempt index) that finally served it.
    */
  def degrading[T](body: => T): (T, Int) = {
    def attempt(level: Int): (T, Int) =
      try (body, level)
      catch { case _: Throwable if level < 3 => attempt(level + 1) }
    attempt(0)
  }
}
