package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One traced interval: a call into one layer's public functions, or a
  * client call into the REST surface. */
final case class Span(id: Int, name: String, parent: Int, request: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to a span through the job group set around it. */
final class Work {
  val jobs = new AtomicLong
  val inputBytes = new AtomicLong
  val inputRecords = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val resultBytes = new AtomicLong
  val outputBytes = new AtomicLong
}

/** SparkListener counting jobs, input records and bytes, shuffle write,
  * spill, task result and output bytes per job group. Groups the tracer
  * did not set are ignored. Input bytes come from thread-local filesystem
  * statistics, which miss reads the parquet reader does on its own I/O
  * threads, so only input records are reported as metrics. */
final class LayerListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val work = new ConcurrentHashMap[String, Work]()
  val jobsStarted = new AtomicLong
  val jobsEnded = new AtomicLong

  private def of(g: String): Work = work.computeIfAbsent(g, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.GroupKey)))
    g.filter(_.startsWith(Tracer.GroupPrefix)).foreach { grp =>
      of(grp).jobs.incrementAndGet()
      e.stageIds.foreach(stageGroup.put(_, grp))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val grp = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (grp != null && m != null) {
      val w = of(grp)
      w.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      w.inputRecords.addAndGet(m.inputMetrics.recordsRead)
      w.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      w.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      w.resultBytes.addAndGet(m.resultSize)
      w.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  /** Wait until every started job has ended and the bus went quiet. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
           (jobsStarted.get != jobsEnded.get || last != jobsEnded.get)) {
      last = jobsEnded.get
      Thread.sleep(200)
    }
  }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
  // the local properties SparkContext.setJobGroup sets
  val GroupKey = "spark.jobGroup.id"
  val DescKey = "spark.job.description"
}

/** A count a layer reported for one request (files written, pairs
  * found, RDDs left persisted). */
final case class Count(name: String, key: String, request: Int, value: Double)

/** Spans kept in memory and written out when the run ends. While
  * `active` is false every call runs its body and records nothing. */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  val counts = ArrayBuffer.empty[Count]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var active = false
  var request: Int = -1

  def count(name: String, key: String, value: Double): Unit =
    if (active) counts += Count(name, key, request, value)

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prevGroup = sc.getLocalProperty(Tracer.GroupKey)
      val prevDesc = sc.getLocalProperty(Tracer.DescKey)
      sc.setJobGroup(Tracer.GroupPrefix + id, name, interruptOnCancel = false)
      stack = id :: stack
      val t0 = System.nanoTime()
      try {
        val out = body
        spans += Span(id, name, parent, request, t0, System.nanoTime())
        out
      } finally {
        stack = stack.tail
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevDesc, interruptOnCancel = false)
      }
    }

  /** Span duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def work(listener: LayerListener, s: Span): Work =
    Option(listener.work.get(Tracer.GroupPrefix + s.id)).getOrElse(new Work)

  /** Spans and counts as JSON lines, with the Spark work attributed to
    * each span. */
  def jsonLines(listener: LayerListener): Seq[String] = spans.toSeq.map { s =>
    val w = work(listener, s)
    Json.obj("span" -> s.name, "id" -> s.id, "parent" -> s.parent, "request" -> s.request,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_s" -> selfSeconds(s),
      "jobs" -> w.jobs.get, "input_bytes" -> w.inputBytes.get, "input_records" -> w.inputRecords.get,
      "shuffle_bytes" -> w.shuffleBytes.get, "spill_bytes" -> w.spillBytes.get,
      "result_bytes" -> w.resultBytes.get, "output_bytes" -> w.outputBytes.get)
  } ++ counts.toSeq.map(c =>
    Json.obj("count" -> c.name, "key" -> c.key, "request" -> c.request, "value" -> c.value))
}

/** Minimal JSON writer for the harness's records. */
object Json {
  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case Raw(j) => j
    case other => str(other.toString)
  }

  final case class Raw(json: String)

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
