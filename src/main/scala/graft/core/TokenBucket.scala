package graft.core

/** Token-bucket rate limiter guarding metric creation (reference:
  * rurouni/utils.py:55-104). `capacity` is in tokens and `fillRate` in
  * tokens per second; the reference wires it at rurouni/cache.py:119-121
  * with capacity = MAX_CREATES_PER_MINUTE tokens, refilled at
  * MAX_CREATES_PER_MINUTE / 60 tokens per second (see
  * `graft.streaming.Daemon.cliCatalog`). The clock is injectable so tests
  * are deterministic.
  */
final class TokenBucket(val capacity: Double, val fillRate: Double,
                        clock: () => Double = () => System.nanoTime() / 1e9) {
  private var tokens: Double = capacity
  private var timestamp: Double = clock()

  private def refill(): Unit =
    if (tokens < capacity) {
      val now = clock()
      tokens = math.min(capacity, tokens + fillRate * (now - timestamp))
      timestamp = now
    }

  /** Take `n` tokens; false (and no tokens taken) when not enough. */
  def consume(n: Double): Boolean = synchronized {
    refill()
    if (n <= tokens) { tokens -= n; true } else false
  }

  /** Take up to `n` whole tokens; returns how many were taken. The batch
    * form of n× consume(1): same grant count (whole tokens only), one
    * lock round — lets a caller admit "the first k of a sorted batch"
    * without walking the batch on the driver.
    */
  def consumeUpTo(n: Long): Long = synchronized {
    refill()
    val k = math.max(0L, math.min(n, tokens.toLong))
    tokens -= k
    k
  }

  def available: Double = synchronized { refill(); tokens }
}
