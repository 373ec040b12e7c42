package graft.tools

import graft.GraftSession

/** Bench-conditioned timing for ONE named SparkEntry query: codegen
  * warmed at sf0.001, caches cleared between reps (same protocol as
  * graft.Bench, minus the other 81 queries).
  *
  *   SPARK_GRAFT_QUERY=dedup_semantic [SPARK_GRAFT_SF_DIR=...] \
  *     sbt "runMain graft.tools.ProfQuery"
  */
object ProfQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val name = args.headOption.orElse(sys.env.get("SPARK_GRAFT_QUERY"))
      .getOrElse(sys.error("pass a query name (arg or SPARK_GRAFT_QUERY)"))
    val fn = graft.SparkEntry.queries(name)
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    fn(spark, "/root/testdata/sf0.001").count()
    spark.catalog.clearCache()
    for (r <- 1 to 3) {
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(f"[profq] $name rep$r: $sec%6.2f s  rows=$n")
    }
    spark.stop()
  }
}
