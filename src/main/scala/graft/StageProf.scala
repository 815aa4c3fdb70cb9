package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Scratch per-stage profiler (not part of the library surface): runs
  * each named query twice (rep 1 warms codegen/JIT), attaches a listener
  * for rep 2 and prints per-stage wall + executor-time + task counts so
  * a slow query's cost can be attributed to a stage/operator instead of
  * guessed. Run:
  * `sbt "runMain graft.StageProf <sfDir> <name...>"`. */
object StageProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.get(s"local[$cpus]", 32)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, Long, Int)]()
    var jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(-1L)
        stages.add((si.stageId, si.name.takeWhile(_ != '\n').take(90), wall,
          si.taskMetrics.executorRunTime, si.numTasks))
      }
    }
    Queries.all.filter(q => names.isEmpty || names.exists(q.name.startsWith)).foreach { q =>
      // warm rep
      q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      // profiled rep
      stages.clear(); jobs.set(0)
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      spark.catalog.clearCache()
      Thread.sleep(300) // listener bus drain
      println(f"==== ${q.name} wall=$wall%.2f s jobs=${jobs.get()}")
      import scala.jdk.CollectionConverters._
      val sorted = stages.asScala.toSeq.sortBy(-_._3)
      val totalWall = sorted.map(_._3).sum
      println(f"  stages=${sorted.size} sum(stage wall)=${totalWall / 1000.0}%.2f s")
      sorted.take(12).foreach { case (id, name, w, exec, nt) =>
        println(f"  stage $id%4d wall=${w / 1000.0}%6.2f s exec=${exec / 1000.0}%7.2f s tasks=$nt%4d  $name")
      }
    }
    spark.stop()
  }
}
