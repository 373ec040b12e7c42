package graft

/** Benchmark main: one JSON line with per-query wall seconds.
  *
  * Load-proofing (rounds 5-7 — three rounds of driver records were
  * burned on measurement artifacts, not regressions):
  *  - every query is timed `reps` times (default 3) and the MEDIAN of
  *    successful reps is recorded;
  *  - reps are INTERLEAVED (round 7): the whole suite runs end-to-end
  *    `reps` times, rather than each query `reps` times back-to-back.
  *    Round 6 proved medians alone don't survive a multi-minute load
  *    window — it covered all 3 consecutive reps of an alphabetically
  *    contiguous block and inflated 10 queries 3-5x. Interleaved, the
  *    same window hits one rep of many queries instead of every rep of
  *    a few, and the per-query medians shrug it off;
  *  - the PER-REP times ship in the record (sharded lines, below) and
  *    the OS 1-minute load average is sampled at start, after warmup,
  *    and after each suite pass — a poisoned window is machine-
  *    detectable (spread >> median, loadavg spike) instead of needing
  *    forensic inference;
  *  - besides the full record, the JSON is emitted as SELF-CONTAINED
  *    SHORT LINES (a headline total plus ~10-query shards, each well
  *    under any capture window) because the driver's log capture has
  *    twice truncated the head of the long line; target/bench.json
  *    keeps the intact full record;
  *  - the warmup directory actually used is recorded in the JSON: when
  *    the sf0.001 sibling is missing, warmup is SKIPPED (running the
  *    full suite at the measured SF would silently double wall time and
  *    turn "measured" numbers into warm-cache reruns) and the record
  *    says so instead of hiding it.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    // 1-minute load average sampled at start, after warmup, and after
    // each suite pass — the machine-detectable witness for a busy-host
    // window (round 6's record needed forensic inference instead)
    val loadAvgs = scala.collection.mutable.ArrayBuffer(loadAvg())

    // warmup (uncounted): run EVERY query once at the smallest SF — same
    // plan shapes, trivial data — so each measured timing below pays for
    // the plan, not first-touch Janino/JIT compilation. (Per-family
    // spot-warmup proved insufficient: the first query of any untouched
    // family absorbed that family's whole codegen cost, misattributing
    // ~5 s to innocent plans.) Caches built during warmup are keyed on
    // the warmup dir's logical plans, so they can't leak into the
    // measured run; clearCache() drops their storage anyway.
    val sibling = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
    val warmup =
      if (sibling.isDirectory && sibling.getAbsolutePath != new java.io.File(sfDir).getAbsolutePath) {
        SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
          try fn(spark, sibling.getAbsolutePath).count() catch { case _: Throwable => () }
        }
        spark.catalog.clearCache()
        sibling.getAbsolutePath
      } else "skipped_no_small_sf"

    loadAvgs += loadAvg() // post-warmup sample
    def f3(d: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    def f2(d: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, d)

    // INTERLEAVED reps: suite pass 1 for every query, then pass 2, ... —
    // a sustained load window lands on one rep of many queries, never on
    // every rep of a few (the round-6 record's failure mode). Cache
    // clearing after each query keeps the passes independent, so the
    // per-query samples are exchangeable and the median is still valid.
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    val perRep = Array.fill(names.length)(Vector.empty[Double])
    for (_ <- 1 to reps) {
      names.zipWithIndex.foreach { case ((_, fn), i) =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
        val sec = (System.nanoTime() - t0) / 1e9
        // outside the timed section: drop this query's internal caches so
        // later queries (and the next pass) start cache-cold and aren't
        // squeezed by accumulated storage memory
        spark.catalog.clearCache()
        perRep(i) :+= (if (ok) sec else -1.0)
      }
      loadAvgs += loadAvg()
    }
    // a failed rep is DROPPED before the median (round 6): -1 sentinels
    // sort first, so with reps=3 one intermittent failure used to hide
    // behind a clean positive median while two poisoned the total with
    // -1. The median is over successful reps only; -1 survives only when
    // every rep failed (such queries leave the total and are listed).
    val results = names.zipWithIndex.map { case ((name, _), i) =>
      val good = perRep(i).filter(_ >= 0).sorted
      val median = if (good.nonEmpty) good(good.length / 2) else -1.0
      (name, median, reps - good.length)
    }
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, _) if v >= 0 => v }.sum
    // round 13 (VERDICT r12 #8): a second total EXCLUDING the four
    // inline-retrain ANN entries (each re-pays Lloyd training per run
    // by design — training stays on the measured path; their indexed
    // twins, the production serve path, remain counted). This is the
    // SERVING cost signal: a round-over-round regression in serve
    // plans shows here without being masked by ~14 s of training noise.
    val retrainInline = Set("sim_topk_ivf_pq", "sim_topk_pq",
      "sim_topk_pq_refined", "sim_topk_ivf2")
    val serveOnly = results
      .collect { case (n, v, _) if v >= 0 && !retrainInline(n) => v }.sum
    val failedQueries = results.collect { case (n, v, _) if v < 0 => "\"" + n + "\"" }
    val failedReps = results.map(_._3).sum
    val repFailures = results.collect { case (n, _, f) if f > 0 => "\"" + n + "\":" + f }
    val loadLine = loadAvgs.map(f2).mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,""" +
      s""""serve_only":${f3(serveOnly)},""" +
      s""""retrain_excluded":${retrainInline.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""sf":"$sfDir","reps":$reps,"interleaved":true,"warmup":"$warmup",""" +
      s""""loadavg":$loadLine,""" +
      s""""failed_queries":${failedQueries.mkString("[", ",", "]")},""" +
      s""""rep_failures":${repFailures.mkString("{", ",", "}")}}"""
    // a short self-contained total line: the driver's log capture has
    // twice truncated the HEAD of the long record — this one always fits
    // in any capture window, so the headline number survives regardless.
    // Loadavg at 1 dp here (full 2-dp copy rides in the long record):
    // every char of this line competes with a median in the tail window.
    val loadShort = loadAvgs.map(d => "%.1f".formatLocal(java.util.Locale.ROOT, d))
      .mkString("[", ",", "]")
    val totalLine = s"""{"metric":"total","value":${f2(total)},"unit":"sec",""" +
      s""""serve_only":${f2(serveOnly)},""" +
      s""""n_queries":${results.length},"n_failed":${failedQueries.length},""" +
      s""""failed_reps":$failedReps,"loadavg":$loadShort,"sf":"$sfDir"}"""
    // the full per-REP detail, sharded into self-contained ~10-query
    // lines each well under any capture window: medians can be recomputed
    // and a poisoned window spotted (one rep >> the others) from the
    // driver artifact alone even if the long line above is truncated
    val shardLines = names.zipWithIndex.grouped(10).zipWithIndex.map { case (grp, s) =>
      val m = grp.map { case ((n, _), i) =>
        "\"" + n + "\":" + perRep(i).map(f3).mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      s"""{"metric":"bench_shard","shard":$s,"reps":$m}"""
    }.toVector
    // per-query MEDIAN lines — round 9: the WHOLE set must fit the
    // driver's ~2000-char tail window TOGETHER with the headline total
    // (round 8 still clipped the first ~3 of 10 shard lines: 40 of 91
    // medians existed only in target/bench.json). Three compressions,
    // all documented by the legend line below (which prints early — it
    // may be clipped from the tail, but survives in the full log and in
    // target/bench.json):
    //  - queries are grouped by family prefix and the prefix is hoisted
    //    into a one-letter "g" code, so each key ships once per line
    //    instead of once per query;
    //  - the 22 TPC-H keys (q<N>_...) collapse to their bare number;
    //  - values are 2-dp seconds with a redundant trailing zero dropped
    //    ("0.50"→"0.5"); if the block still exceeds the budget the whole
    //    set rebuilds at 1 dp (never silently truncates).
    val groupDefs = Vector( // (code, prefix) — first match wins
      "e" -> "q_events_", "s" -> "sim_topk_", "c" -> "curation_",
      "d" -> "dedup_", "t" -> "text_", "m" -> "mm_", "r" -> "ref_",
      "q" -> "q_")
    val TpcH = "^q(\\d+)_.*$".r
    def groupOf(k: String): (String, String) = k match {
      case TpcH(n) => ("h", n)
      case _ => groupDefs.find { case (_, p) => k.startsWith(p) }
        .map { case (c, p) => (c, k.stripPrefix(p)) }
        .getOrElse(("x", k))
    }
    val legend = groupDefs.map { case (c, p) => "\"" + c + "\":\"" + p + "\"" }
      .mkString("""{"metric":"bench_medians_legend","groups":{""",
        ",", ""","h":"q<N>_ (TPC-H, bare number)","x":""},""") +
      """"note":"median seconds; keys = group prefix + short key"}"""
    def fmt(v: Double, dp: Int): String = {
      val s = s"%.${dp}f".formatLocal(java.util.Locale.ROOT, v)
      if (dp == 2 && s.endsWith("0")) s.dropRight(1) else s
    }
    def medianLines(dp: Int): Vector[String] =
      results.map { case (n, v, _) => (groupOf(n), v) }
        .groupBy(_._1._1).toVector.sortBy(_._1)
        .map { case (code, grp) =>
          val m = grp.sortBy(_._1._2)
            .map { case ((_, k), v) => "\"" + k + "\":" + fmt(v, dp) }
            .mkString("{", ",", "}")
          s"""{"g":"$code","q":$m}"""
        }
    // the tail block = every median line + the total line; it must fit
    // the driver's ~2000-char window with room for sbt's trailing
    // [success] line. Try 2 dp first, fall back to 1 dp; if even that
    // overflows (far more queries than today), print anyway — partial
    // clipping then degrades exactly like round 8, never worse.
    val TailBudget = 1820
    val medianShards = Iterator(2, 1).map(medianLines)
      .find(ls => ls.map(_.length + 1).sum + totalLine.length + 1 <= TailBudget)
      .getOrElse(medianLines(1))
    // file first (survives log truncation/interleaving), then stdout
    // twice — once immediately, once after stop() — each line separated
    // so the record stays intact even if a logger write lands mid-buffer
    val fileBody = (json +: totalLine +: legend +: (shardLines ++ medianShards))
      .mkString("", "\n", "\n")
    try {
      val out = java.nio.file.Paths.get("target", "bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, fileBody.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    def printAll(): Unit = {
      println()
      // long consolidated record + per-rep shards + legend first (intact
      // in target/bench.json and the full log; clipped from the tail);
      // then the compact median lines and the headline total LAST — the
      // driver's tail window keeps the end of the stream, so the final
      // lines must be the complete self-contained ones
      println(json)
      shardLines.foreach(println)
      println(legend)
      medianShards.foreach(println)
      println(totalLine)
      Console.flush()
    }
    printAll()
    spark.stop()
    printAll()
  }
}
