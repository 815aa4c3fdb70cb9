package graft.sources

import java.io.IOException
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

/** The one way a live transport publishes into its spool. Spark's file
  * source replays exactly once only if every file it lists appears whole
  * and never changes (Structured Streaming, SIGMOD 2018), so a record is
  * written to a dot-prefixed `.<name>-<incarnation>-<seq>.tmp` — hidden
  * from Hadoop's listing — and then moved to
  * `<name>-<incarnation>-<seq>.<ext>`.
  *
  * The move refuses to replace an existing file: `ATOMIC_MOVE` is not
  * used because on Linux it silently replaces the target. The
  * incarnation token keeps two publishers on one directory apart — a
  * restarted source starts `seq` at 0 again, and without the token its
  * names would collide with its predecessor's files.
  *
  * With `retentionMs > 0` every publish then sweeps this source's
  * published files older than the window ([[SpoolRetention]]).
  *
  * One publisher belongs to one writer thread. */
private[graft] final class SpoolPublisher(dir: String, name: String, ext: String,
    retentionMs: Long) {
  private val root: Path = Files.createDirectories(Paths.get(dir))
  private[graft] val incarnation = java.lang.Long.toHexString(
    System.nanoTime() ^ (SpoolPublisher.created.incrementAndGet() << 48))
  private var seq = 0L

  def publish(bytes: Array[Byte]): Unit = {
    val base = s"$name-$incarnation-$seq"
    seq += 1
    val tmp = root.resolve(s".$base.tmp")
    Files.write(tmp, bytes)
    try Files.move(tmp, root.resolve(s"$base.$ext"))
    catch { case e: IOException => Files.deleteIfExists(tmp); throw e }
    if (retentionMs > 0) SpoolRetention.sweep(dir, name, retentionMs)
  }
}

private[graft] object SpoolPublisher {
  private val created = new AtomicLong()
}

/** Spool retention sweep shared by the live transports: delete this
  * source's PUBLISHED spool files older than `retentionMs` (mtime-based;
  * dot-prefixed tmp files are never touched — they are pre-publish).
  * Correctness contract: the streaming reader must have a lag shorter
  * than the retention window, or unread data is lost — retention is a
  * disk bound for long-running daemons (a 1 Hz poller = ~86k files/day),
  * not an exactly-once mechanism. Pair with `maxFileAge`/`cleanSource`
  * options on the read side; a reader lagging past the window can have
  * a listed file swept before it opens it, so the read side of a
  * retained spool sets `ignoreMissingFiles`. */
private[sources] object SpoolRetention {
  def sweep(spoolDir: String, name: String, retentionMs: Long): Unit = {
    val cutoff = System.currentTimeMillis() - retentionMs
    val dir = new java.io.File(spoolDir)
    val files = dir.listFiles()
    if (files != null) files.foreach { f =>
      if (f.isFile && f.getName.startsWith(s"$name-") && f.lastModified() < cutoff)
        f.delete() // best-effort: a lost race with the reader is harmless
    }
  }
}
