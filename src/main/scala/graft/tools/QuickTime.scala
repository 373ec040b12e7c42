package graft.tools

import graft.GraftSession

/** Scratch A/B timing harness: time named gated queries for a given
  * number of reps under the Bench protocol (sf0.001 warmup, cache
  * clear between reps, median printed). For same-window code-vs-code
  * comparisons where the full Bench is too coarse. */
object QuickTime {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n => graft.SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count() }
    spark.catalog.clearCache()
    val med = names.map { n =>
      val walls = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, dir).count()
        val w = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        w
      }.sorted
      n -> walls(walls.length / 2)
    }
    med.foreach { case (n, w) => println(f"[quicktime] $n%-34s $w%7.3f s") }
    spark.stop()
  }
}
