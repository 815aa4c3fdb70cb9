package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Path, StandardWatchEventKinds}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import graft.sources.SpoolPublisher

/** The live transports' spool publish: whole files under
  * `<name>-<incarnation>-<seq>.<ext>`, written through a hidden tmp
  * file, never replacing a file already published. */
class SpoolPublisherSpec extends SparkSpec {

  private def names(dir: Path): Seq[String] = dir.toFile.list().toSeq.sorted

  test("files are <name>-<incarnation>-<seq>.<ext>, written through a dot-prefixed tmp file") {
    val dir = Files.createTempDirectory("graft-pub-")
    val watch = dir.getFileSystem.newWatchService()
    try {
      dir.register(watch, StandardWatchEventKinds.ENTRY_CREATE)
      val pub = new SpoolPublisher(dir.toString, "dev", "txt", retentionMs = 0L)
      (0 until 3).foreach(i => pub.publish(s"r$i\t$i".getBytes(UTF_8)))
      val inc = pub.incarnation
      val finals = (0 until 3).map(i => s"dev-$inc-$i.txt")
      val tmps = (0 until 3).map(i => s".dev-$inc-$i.tmp")
      // a create and a rename-into both report ENTRY_CREATE
      val created = scala.collection.mutable.ArrayBuffer.empty[String]
      val deadline = System.currentTimeMillis() + 10000
      while (created.size < 6 && System.currentTimeMillis() < deadline) {
        val key = watch.poll(100, TimeUnit.MILLISECONDS)
        if (key != null) {
          created ++= key.pollEvents().asScala.map(_.context().toString)
          key.reset()
        }
      }
      assert(created.toSet == (finals ++ tmps).toSet)
      assert(names(dir) == finals.sorted)
      assert(finals.map(f => Files.readString(dir.resolve(f))) == Seq("r0\t0", "r1\t1", "r2\t2"))
      // Hadoop's listing skips dot-prefixed names: a tmp caught before
      // its move is never read
      Files.writeString(dir.resolve(s".dev-$inc-3.tmp"), "torn")
      assert(spark.read.text(dir.toString).count() == 3)
    } finally watch.close()
  }

  test("two publishers on one directory never collide") {
    val dir = Files.createTempDirectory("graft-pub-two-")
    val a = new SpoolPublisher(dir.toString, "dev", "json", retentionMs = 0L)
    val b = new SpoolPublisher(dir.toString, "dev", "json", retentionMs = 0L)
    assert(a.incarnation != b.incarnation)
    (0 until 20).foreach { i =>
      a.publish(s"a$i".getBytes(UTF_8))
      b.publish(s"b$i".getBytes(UTF_8))
    }
    val published = names(dir)
    assert(published.size == 40 && published.forall(_.endsWith(".json")))
    assert(published.map(f => Files.readString(dir.resolve(f))).toSet ==
      (0 until 20).flatMap(i => Seq(s"a$i", s"b$i")).toSet)
  }

  test("a publish never replaces an existing file") {
    val dir = Files.createTempDirectory("graft-pub-taken-")
    val pub = new SpoolPublisher(dir.toString, "dev", "txt", retentionMs = 0L)
    val taken = dir.resolve(s"dev-${pub.incarnation}-0.txt")
    Files.writeString(taken, "earlier")
    intercept[FileAlreadyExistsException](pub.publish("later".getBytes(UTF_8)))
    assert(Files.readString(taken) == "earlier")
    assert(names(dir) == Seq(taken.getFileName.toString), "the failed publish leaves no tmp file")
    pub.publish("next".getBytes(UTF_8))
    assert(Files.readString(dir.resolve(s"dev-${pub.incarnation}-1.txt")) == "next")
  }
}
