package graft.sources

import java.util.concurrent.atomic.AtomicBoolean
import scala.util.control.NonFatal

/** The supervision rule every live transport runs under — the reference
  * keeps each source alive with per-source task supervision
  * (cerebro/cerebro.py:103-118) and retries with the ×e jittered backoff
  * of `ReconnectingTCPClientProtocol` (cerebro/protocols.py:24-63).
  *
  * One driver daemon thread named `threadName` calls `step()` until
  * [[stop]]; `step()` returns the sleep before the next step (0 when its
  * own read already blocks). After a successful step the backoff resets.
  * A `NonFatal` failure is logged as one `[threadName] error` stderr
  * line, `close` drops the transport's connection, and the loop sleeps
  * `backoff.nextDelayMs()` before the next step reconnects — a failing
  * source never takes the daemon down. A fatal JVM error
  * (VirtualMachineError, LinkageError, …) is not caught and ends the
  * thread; an interrupt ends the loop.
  *
  * The transport owns only its wire conversation: `step` and `close`.
  * `close` must be safe to call from any thread and more than once —
  * [[stop]] calls it to unblock a read in flight. */
private[graft] final class Supervised(threadName: String, backoff: Backoff,
    close: () => Unit = () => ())(step: () => Long) {

  private val running = new AtomicBoolean(false)
  @volatile private var thread: Thread = _

  /** Start the loop; a no-op while its thread is alive. */
  def start(): Unit = synchronized {
    if (thread == null || !thread.isAlive) {
      running.set(true)
      val t = new Thread(() => loop(), threadName)
      t.setDaemon(true)
      thread = t
      t.start()
    }
  }

  // no `return` in here: inside the thread's lambda it would compile to a
  // NonLocalReturnControl throw
  private def loop(): Unit =
    try {
      while (running.get()) {
        val sleepMs =
          try { val d = step(); backoff.reset(); d }
          catch {
            case NonFatal(e) =>
              // a failure after stop() is the close unblocking a read
              if (!running.get()) 0L
              else {
                System.err.println(s"[$threadName] $e")
                closeQuietly()
                backoff.nextDelayMs()
              }
          }
        if (sleepMs > 0 && running.get()) Thread.sleep(sleepMs)
      }
    } catch {
      case _: InterruptedException => ()
    } finally closeQuietly()

  private def closeQuietly(): Unit =
    try close() catch { case NonFatal(_) => () }

  /** Stop the loop: clear the flag, close the transport (unblocking a
    * read in flight), interrupt, and join for up to 5 s, so "stopped"
    * means the spool is frozen — an in-flight step that already read a
    * reply cannot publish after `stop()` returns. */
  def stop(): Unit = {
    running.set(false)
    closeQuietly()
    val t = thread
    if (t != null) {
      t.interrupt()
      if (t ne Thread.currentThread())
        try t.join(5000) catch { case _: InterruptedException => () }
    }
  }
}
