package graft

import scala.jdk.CollectionConverters._

/** A finished streaming replay leaves no state-store residue behind: the
  * providers it loaded (and the `ChecksumCheckpointFileManager` thread
  * pools they own) are closed when the replay ends, not at some later
  * pass-wide unload. */
class ReplayReleaseSpec extends SparkSpec {

  private def checkpointThreads(): Int = Thread.getAllStackTraces.keySet.asScala
    .count(t => t.isAlive && t.getName.startsWith("ChecksumCheckpointFileManager"))

  test("a q64 replay returns its checkpoint file-manager threads when it ends") {
    val before = checkpointThreads()
    val during = new java.util.concurrent.atomic.AtomicInteger(before)
    val sampler = new Thread(() => while (!Thread.currentThread().isInterrupted) {
      during.accumulateAndGet(checkpointThreads(), math.max)
      try Thread.sleep(20) catch { case _: InterruptedException => Thread.currentThread().interrupt() }
    })
    sampler.setDaemon(true)
    sampler.start()
    try assert(graft.streaming.StreamingDedup.run(spark, sf()).count() > 0)
    finally { sampler.interrupt(); sampler.join() }
    assert(during.get() > before, "the replay should have used checkpoint file-manager threads")
    // a pool shutdown joins its workers asynchronously
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (checkpointThreads() > before && System.nanoTime() < deadline) Thread.sleep(50)
    assert(checkpointThreads() <= before,
      s"${checkpointThreads()} checkpoint threads alive after the replay, $before before it")
  }
}
