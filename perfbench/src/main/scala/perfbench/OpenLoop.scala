package perfbench

/** Open-loop publisher: one thread runs `publish(i)` for tick `i` at
  * `startNs + i * periodNs`, whatever the consumer downstream is doing.
  * The schedule is absolute, so a late tick does not shift later ones;
  * how late each tick ran is recorded instead.
  */
final class OpenLoop(ticks: Int, periodNs: Long, publish: Int => Unit) {
  @volatile private var startedNs = 0L
  private val lateNs = new Array[Long](ticks)
  @volatile private var failure: Throwable = null
  private val thread = new Thread(() => run(), "perfbench-open-loop")
  thread.setDaemon(true)

  def start(startNs: Long): Unit = { startedNs = startNs; thread.start() }

  def dueNs(tick: Int): Long = startedNs + tick * periodNs

  /** Wait for the last tick; rethrows a publish failure. */
  def join(): Unit = {
    thread.join()
    if (failure != null) throw failure
  }

  /** How late each tick's publish started, in ns. */
  def lateness: Array[Long] = lateNs.clone()

  private def run(): Unit =
    try {
      var i = 0
      while (i < ticks) {
        val due = dueNs(i)
        var now = System.nanoTime()
        while (now < due) {
          val ms = (due - now) / 1000000L
          if (ms > 0) Thread.sleep(ms) else Thread.onSpinWait()
          now = System.nanoTime()
        }
        lateNs(i) = now - due
        publish(i)
        i += 1
      }
    } catch { case e: Throwable => failure = e }
}
