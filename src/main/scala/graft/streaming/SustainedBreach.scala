package graft.streaming

/** The sustained-breach alert rule every monitor shares — a
  * Prometheus rule with a `for:` clause (the reference's
  * `HighEventFailureRate`, monitoring/prometheus/alerts.yml:5-12): an
  * observation either breaches its threshold or not; the alert fires
  * once a breach has held for `sustainMs` and clears on the first
  * observation without one. Each raised/cleared state change is kept,
  * in arrival order, as the monitor's own transition record `T`. */
trait SustainedBreach[T] {

  /** How long a breach must hold before the alert fires (0 = at once). */
  protected def sustainMs: Long

  private var breachSinceMs: Option[Long] = None
  private var history = Vector.empty[T]
  @volatile private var isFiring = false

  /** Is the alert currently raised? */
  def firing: Boolean = isFiring

  /** Raised/cleared transitions in arrival order. */
  def transitions: Seq[T] = synchronized(history)

  /** Evaluate one observation at `atMs`; when the alert flips,
    * `transition(nowFiring)` is recorded. */
  protected def observe(atMs: Long, breach: Boolean)(
      transition: Boolean => T): Unit = synchronized {
    breachSinceMs = if (breach) breachSinceMs.orElse(Some(atMs)) else None
    val nowFiring = breachSinceMs.exists(s => atMs - s >= sustainMs)
    if (nowFiring != isFiring) history :+= transition(nowFiring)
    isFiring = nowFiring
  }
}
