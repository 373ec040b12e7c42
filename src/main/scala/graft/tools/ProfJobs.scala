package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import graft.GraftSession

/** Stage-level evidence for the optimization round (guide §1/§7): run
  * one named SparkEntry query under the bench protocol (sf0.001 warmup,
  * cache cleared between reps) with a listener counting jobs, stages,
  * tasks, and shuffle bytes — the empirical view of how much
  * coordination and network a query really pays, which wall seconds
  * alone can't attribute.
  *
  *   sbt "runMain graft.tools.ProfJobs <query> [<query> ...]"
  */
object ProfJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    require(args.nonEmpty, "pass query names")
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shufR = new AtomicLong
    val shufW = new AtomicLong
    val input = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        shufR.addAndGet(s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        shufW.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        input.addAndGet(s.stageInfo.taskMetrics.inputMetrics.bytesRead)
      }
    })
    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      try fn(spark, "/root/testdata/sf0.001").count() catch { case _: Throwable => () }
      spark.catalog.clearCache()
      for (r <- 1 to 2) {
        jobs.set(0); stages.set(0); tasks.set(0)
        shufR.set(0); shufW.set(0); input.set(0)
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        // listener events are async — give the bus a moment to drain
        // (listenerBus.waitUntilEmpty is private[spark]; a fixed sleep is
        // fine for a measurement tool)
        Thread.sleep(300)
        println(f"[profj] $name rep$r: $sec%6.2f s rows=$n jobs=${jobs.get}%3d " +
          f"stages=${stages.get}%3d tasks=${tasks.get}%5d " +
          f"input=${input.get / 1048576.0}%8.1f MiB shufR=${shufR.get / 1048576.0}%8.1f MiB " +
          f"shufW=${shufW.get / 1048576.0}%8.1f MiB")
      }
    }
    spark.stop()
  }
}
