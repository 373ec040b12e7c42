package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One finished client request: what kind, how long the caller waited,
  * and how many items it delivered. */
final case class Outcome(kind: String, latencyS: Double, items: Long)

/** Correctness checks, all run outside the timed window. */
final class Checks {
  val failures = ArrayBuffer.empty[String]
  var passed = 0L
  def apply(name: String, ok: Boolean, detail: => String = ""): Unit =
    if (ok) passed += 1
    else {
      failures += s"$name: $detail"
      System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    }
}

/** Everything a workload reaches: the session, the tracer, the checks. */
final case class Ctx(spark: SparkSession, seed: Long, tracer: Tracer, checks: Checks) {
  def persistedRdds: Int = spark.sparkContext.getPersistentRDDs.size

  /** A span around one operator call that also counts the RDDs the call
    * left persisted. */
  def leakSpan[T](name: String)(body: => T): T = {
    val before = persistedRdds
    val out = tracer.span(name)(body)
    tracer.count(name, "leaked_rdds", (persistedRdds - before).toDouble)
    out
  }
}

/** A closed-loop workload. `prepare` generates the inputs under `dir` and
  * builds what requests read; `warmUp` then runs one untimed request of
  * each class. */
trait Workload {
  /** Requests per cycle of the mix; a run ends on a cycle boundary. */
  def cycle: Int
  /** Kind of request the latency metric describes. */
  def primary: String
  /** Class of request `i` (its kind, and its size where the mix varies
    * it); a traced run traces every other request of each class. */
  def kindOf(i: Int): String
  def prepare(dir: File): Unit
  def warmUp(): Unit
  /** Run request `i`: untimed preparation, the timed call, untimed checks.
    * With the tracer active the request also runs its layers one by one. */
  def request(i: Int): Outcome
  /** Share of the expected results the caller got back. */
  def recall: Double
  def close(): Unit
}

/** Benchmark entry point: `--workload w --seed n --seconds s --trace 0|1
  * --work dir --out file --spans file`. Writes one JSON record to `--out`;
  * the launcher turns it into metrics. */
object Bench {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = new File(args("work"))
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val listener = new LayerListener
    sc.addSparkListener(listener)
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val tracer = new Tracer(sc)
    val checks = new Checks
    val ctx = Ctx(spark, seed, tracer, checks)
    val w: Workload = workload match {
      case "extract" => new Extract(ctx)
      case "search" => new Search(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val loadStart = loadAvg()

    val prepareS = timed(w.prepare(new File(work, "prepare")))._2
    val warmUpS = timed(w.warmUp())._2
    // what the requests leave behind is measured against the heap the
    // warmed-up session holds
    val heapBaseMb = settledHeapMb()

    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gcStart = gcSeconds()

    val outcomes = ArrayBuffer.empty[String]
    var failed = 0
    // a traced run traces every other request of each class, first included
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val loopStart = System.nanoTime()
    val deadline = loopStart + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || i % w.cycle != 0) {
      val kind = w.kindOf(i)
      val traced = trace && seen(kind) % 2 == 0
      seen(kind) += 1
      tracer.active = traced
      tracer.request = i
      val o =
        try Some(w.request(i))
        catch {
          case NonFatal(e) =>
            failed += 1
            System.err.println(s"[perfbench] request $i failed: $e")
            e.printStackTrace()
            None
        }
      tracer.active = false
      o.foreach { r =>
        outcomes += Json.obj("i" -> i, "kind" -> r.kind, "class" -> kind, "latency_s" -> r.latencyS,
          "items" -> r.items, "traced" -> traced,
          "persisted_rdds" -> ctx.persistedRdds, "storage_mb" -> storageMb(spark))
      }
      i += 1
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val gcS = gcSeconds() - gcStart
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6

    val recall = w.recall
    val storageAfter = storageMb(spark)
    val persistedAfter = ctx.persistedRdds
    val heapAfterMb = settledHeapMb()
    val cachedDiskMb = sc.getRDDStorageInfo.map(_.diskSize).sum / 1e6
    w.close()
    listener.drain()

    Files.write(new File(args("spans")).toPath,
      tracer.jsonLines(listener).mkString("", "\n", "\n").getBytes(UTF_8))
    val record = Json.obj(
      "workload" -> workload, "primary" -> w.primary, "seed" -> seed, "trace" -> trace,
      "session_s" -> sessionS, "prepare_s" -> prepareS, "warm_up_s" -> warmUpS, "loop_s" -> loopS,
      "requests" -> Json.Raw(outcomes.mkString("[", ",", "]")),
      "attempted" -> i, "failed" -> failed,
      "checks_passed" -> checks.passed, "check_failures" -> checks.failures.toSeq,
      "recall" -> recall,
      // heap the requests left reachable (cached blocks in memory
      // included) plus cached blocks on disk, per cycle of the mix: a run
      // holds one or more whole cycles, as many as fit its seconds
      "cycles" -> i / w.cycle,
      "retained_mb" -> (heapAfterMb - heapBaseMb + cachedDiskMb) / (i / w.cycle),
      "heap_base_mb" -> heapBaseMb, "heap_after_gc_mb" -> heapAfterMb,
      "spark.storage_used_mb" -> storageAfter, "spark.persisted_rdds" -> persistedAfter,
      "jvm.gc_s" -> gcS, "jvm.heap_peak_mb" -> heapPeakMb,
      "env" -> Map(
        "cores" -> cores,
        "jvm" -> System.getProperty("java.vm.version"),
        "spark" -> spark.version,
        "loadavg_1m_start" -> loadStart,
        "loadavg_1m_end" -> loadAvg()))
    Files.write(new File(args("out")).toPath, record.getBytes(UTF_8))
    spark.stop()
    // the REST server's handler pool is not daemon: end the JVM explicitly
    System.exit(0)
  }

  def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Heap live after full collections, once they stop freeing more.
    * Between collections the ContextCleaner drops unreachable broadcasts
    * and shuffles. A reading is what the collection itself left in use,
    * so buffers other threads allocate after it do not count. */
  def settledHeapMb(): Double = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def collected(): Double = {
      Thread.sleep(500)
      System.gc()
      pools.map(_.getCollectionUsage.getUsed).sum / 1e6
    }
    var last = collected()
    var next = collected()
    var rounds = 2
    while (next < last - 0.01 && rounds < 10) { last = next; next = collected(); rounds += 1 }
    math.min(last, next)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Memory and disk held by cached blocks. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6

  /** Wall seconds of `body`, with its value. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
