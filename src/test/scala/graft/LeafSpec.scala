package graft

import java.nio.file.{Files, Path}

/** `spark.graft.checkpoint.dir` routing in [[Leaf]]: the context's
  * checkpoint dir follows the configured dir as a path, not as a
  * substring of the previous one. */
class LeafSpec extends SparkSpec {

  test("switching to a sibling dir that prefixes the current one moves leaf checkpoints there") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-leaf")
    val ck2 = base.resolve("ck2")
    val ck = base.resolve("ck")
    def files(d: Path): Long =
      if (!Files.exists(d)) 0L else Files.walk(d).filter(Files.isRegularFile(_)).count()
    val df = (1 to 10).toDF("v")
    try {
      spark.conf.set(Leaf.DirConf, ck2.toString)
      Leaf.leaf(df).collect()
      val underCk2 = files(ck2)
      assert(underCk2 > 0, s"no checkpoint files under $ck2")
      // "<base>/ck2/<uuid>".contains("<base>/ck") — the substring gate
      // kept writing under ck2 here
      spark.conf.set(Leaf.DirConf, ck.toString)
      Leaf.leaf(df).collect()
      assert(files(ck) > 0, s"no checkpoint files under $ck")
      assert(files(ck2) == underCk2, s"checkpoints still land under $ck2")
      val current = new org.apache.hadoop.fs.Path(spark.sparkContext.getCheckpointDir.get)
      assert(current.getParent.toUri.getPath == ck.toString)
    } finally {
      spark.conf.unset(Leaf.DirConf)
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    }
  }
}
