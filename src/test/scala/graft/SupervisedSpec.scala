package graft

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import org.scalatest.funsuite.AnyFunSuite
import graft.control.EngineConfig.SourceConf
import graft.sources.{AmqpPushSource, Backoff, PollingSource, Supervised}

/** The one supervision rule of the live transports: retry what is
  * NonFatal with backoff, let a fatal JVM error end the thread, keep one
  * thread per loop, and publish spool files under the shared naming. */
class SupervisedSpec extends AnyFunSuite {

  private def threads(name: String): Int = Thread.getAllStackTraces.keySet.toArray
    .map(_.asInstanceOf[Thread]).count(t => t.isAlive && t.getName == name)

  private def waitFor(what: String, timeoutMs: Long = 15000)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(25)
    assert(cond, s"timed out waiting for: $what")
  }

  test("two default backoffs draw different jitter, so sources do not retry in lockstep") {
    def firstFive(b: Backoff): Seq[Long] = Seq.fill(5)(b.nextDelayMs())
    assert(firstFive(Backoff()) != firstFive(Backoff()))
  }

  test("a fatal error ends the poller thread instead of being retried") {
    val spool = Files.createTempDirectory("graft-fatal-spool-").toString
    val calls = new AtomicInteger(0)
    val escaped = new AtomicReference[Throwable]()
    val handler = Thread.getDefaultUncaughtExceptionHandler
    Thread.setDefaultUncaughtExceptionHandler((_, e) => escaped.set(e))
    val src = new PollingSource("fatal", spool,
      () => { calls.incrementAndGet(); throw new OutOfMemoryError("simulated") },
      delayMs = 10, backoff = Backoff(initialDelayMs = 10, maxDelayMs = 20))
    try {
      src.start()
      waitFor("the error escapes the loop")(escaped.get() != null)
      waitFor("the poller thread ends")(threads("graft-poller-fatal") == 0)
      Thread.sleep(200) // a retrying loop would have polled again by now
      assert(calls.get() == 1)
      assert(escaped.get().getMessage == "simulated")
    } finally {
      src.stop()
      Thread.setDefaultUncaughtExceptionHandler(handler)
    }
  }

  test("a failing step is logged, closed and retried with backoff until stop(); start() is idempotent") {
    val calls = new AtomicInteger(0)
    val closes = new AtomicInteger(0)
    val loop = new Supervised("graft-test-flaky", Backoff(initialDelayMs = 5, maxDelayMs = 20),
      () => closes.incrementAndGet())(() => {
        calls.incrementAndGet()
        throw new RuntimeException("device hiccup")
      })
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    try {
      loop.start()
      loop.start()
      waitFor("three failed steps")(calls.get() >= 3)
      assert(threads("graft-test-flaky") == 1)
    } finally {
      loop.stop()
      System.setErr(stderr)
    }
    assert(threads("graft-test-flaky") == 0)
    assert(closes.get() >= 3, "every failure closes the transport")
    assert(err.toString.contains("[graft-test-flaky] java.lang.RuntimeException: device hiccup"))
  }

  test("an amqp consumer spools only <name>-<incarnation>-<seq>.txt files") {
    val broker = new LoopbackAmqpBroker("guest", "guest"); broker.start()
    val spool = Files.createTempDirectory("graft-amqp-names-").toFile
    val src = AmqpPushSource(SourceConf("lvm_amqp", "amqp", Map(
      "host" -> "127.0.0.1", "port" -> broker.port, "path" -> spool.toString,
      "exchange" -> "actor_exchange", "keywords" -> Seq("status.temperature")),
      Some("actors"), Map.empty))
    try {
      src.spool()
      waitFor("consumer connects")(broker.hasConsumer)
      (1 to 3).foreach(i =>
        broker.deliver("reply.archon", s"""{"status":{"temperature":$i.0}}"""))
      waitFor("three deliveries spooled")(spool.list().length >= 3)
    } finally { src.stopWriter(); broker.stop() }
    val names = spool.list().toSeq
    val named = "lvm_amqp-([0-9a-f]+)-([0-9]+)\\.txt".r
    assert(names.forall(named.matches), s"unexpected spool files: $names")
    assert(names.collect { case named(inc, _) => inc }.distinct.size == 1)
    assert(names.collect { case named(_, seq) => seq.toInt }.sorted == Seq(0, 1, 2))
  }
}
