package perfbench

import java.io.File
import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}
import graft.api.{Extractor, RestServer}
import graft.functions.TextFns
import graft.operators.{ColumnDetect, Sampling}
import graft.sinks.MarkdownFileSink

/** `extract`: the reference's own job through its REST surface. Each
  * request POSTs /api/extract/parquet with a fresh seed and a
  * `num_papers` from the fixed mix, polls /api/jobs/{id} until the job
  * record completes (the end of the timed request), then lists
  * /api/files and downloads the first file. */
final class Extract(ctx: Ctx) extends Workload {
  import ctx._

  val Docs = 50000
  val PollMs = 5L
  val cycle: Int = Gen.MixCycle.length
  val primary = "extract"

  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private var corpus: String = _
  private var outRoot: File = _
  private var server: HttpServer = _
  private var base: String = _
  private val ids = Array.tabulate(Docs)(_.toLong)
  private var found = 0L
  private var expected = 0L

  def kindOf(i: Int): String = s"$primary-${Gen.numPapers(seed, i)}"

  def prepare(dir: File): Unit = {
    dir.mkdirs()
    corpus = new File(dir, "corpus.parquet").getPath
    outRoot = new File(dir, "out")
    import spark.implicits._
    val s = seed
    spark.range(0, Docs, 1, 8).as[Long].map(id => Gen.paper(s, id))
      .write.parquet(corpus)
    server = RestServer.start(spark, 0, Seq(dir))
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  /** One request of each `num_papers` class, so no timed request is the
    * first of its class. */
  def warmUp(): Unit = Gen.MixCycle.distinct.zipWithIndex.foreach { case (n, k) =>
    run(-1 - k, n, Gen.requestSeed(seed, -1 - k))
  }

  def request(i: Int): Outcome = run(i, Gen.numPapers(seed, i), Gen.requestSeed(seed, i))

  def recall: Double = if (expected == 0) 0.0 else found.toDouble / expected

  def close(): Unit = if (server != null) { server.stop(0); server = null }

  private def run(i: Int, n: Int, reqSeed: Int): Outcome = {
    val out = new File(outRoot, s"req-$i")
    val q = s"path=${enc(corpus)}&output_dir=${enc(out.getPath)}&num_papers=$n&seed=$reqSeed"
    val (record, latency) = Bench.timed {
      val submitted = tracer.span("api.submit")(call("POST", s"/api/extract/parquet?$q"))
      val id = field(submitted, "job_id")
      var rec = ""
      var polling = true
      while (polling) {
        rec = tracer.span("api.status_poll")(call("GET", s"/api/jobs/$id"))
        polling = field(rec, "status") == "running"
        if (polling) Thread.sleep(PollMs)
      }
      rec
    }
    val listing = tracer.span("api.files")(call("GET", s"/api/files?output_dir=${enc(out.getPath)}"))
    val names = filesOf(listing)
    val first = names.headOption.getOrElse("")
    val body = tracer.span("api.download")(
      callBytes("GET", s"/api/files/${enc(first)}?output_dir=${enc(out.getPath)}"))

    val sample = Gen.sampleOrder(ids, reqSeed).take(n)
    val want = expectedNames(sample)
    checks(s"extract[$i].status", field(record, "status") == "completed", record)
    checks(s"extract[$i].file_count", field(record, "file_count") == n.toString, record)
    checks(s"extract[$i].names", names.toSet == want, s"${names.size} files, ${(want -- names).size} missing")
    checks(s"extract[$i].download", new String(body, UTF_8) == Gen.markdown(Gen.paper(seed, sample.head)),
      s"file $first differs from the rendered document ${sample.head}")
    if (i >= 0) { found += (names.toSet intersect want).size; expected += n }
    if (tracer.active) traceLayers(i, n, reqSeed, want)
    Bench.deleteTree(outRoot)
    Outcome("extract", latency, n)
  }

  /** Traced run only: the layers the job composes, called one by one
    * with each layer's input materialized first, then the whole
    * Extractor call for the unattributed remainder. */
  private def traceLayers(i: Int, n: Int, reqSeed: Int, want: Set[String]): Unit = {
    val df = spark.read.parquet(corpus)
    val detected = tracer.span("detect")(ColumnDetect.detect(df))
    val sampled = tracer.span("sample_n") {
      val s = Sampling.sampleN(df, col("doc_id"), n, reqSeed).persist()
      s.write.format("noop").mode("overwrite").save()
      s
    }
    val rendered = render(sampled, df, detected)
      .repartition(math.max(spark.sparkContext.defaultParallelism, 4)).persist()
    rendered.write.format("noop").mode("overwrite").save()
    val sinkDir = new File(outRoot, s"req-$i-sink")
    tracer.span("sink.write")(MarkdownFileSink.write(rendered, sinkDir.getPath))
    val written = Option(sinkDir.listFiles()).getOrElse(Array.empty[File])
    tracer.count("sink.write", "files", written.length.toDouble)
    tracer.count("sink.write", "mb", written.map(_.length).sum / 1e6)
    val manifest = tracer.span("sink.manifest")(
      MarkdownFileSink.manifest(spark, sinkDir.getPath).collect())
    checks(s"extract[$i].sink_names", manifest.map(_.getString(0)).toSet == want, "sink output names")
    rendered.unpersist()
    sampled.unpersist()
    val wholeDir = new File(outRoot, s"req-$i-whole")
    val whole = tracer.span("extract_papers")(
      Extractor.extractPapers(spark, corpus, wholeDir.getPath, n, reqSeed).collect())
    checks(s"extract[$i].extractor_names", whole.map(_.getString(0)).toSet == want, "extractPapers output names")
  }

  /** The Extractor's rendering of a sample: front matter of the
    * non-content, non-binary columns (strings below 1000 chars), the
    * text, and the rank-prefixed title filename. */
  private def render(sampled: DataFrame, df: DataFrame, d: ColumnDetect.Detected): DataFrame = {
    val content = d.content.get
    val meta: Seq[Column] = df.schema.fields.toSeq
      .filter(f => f.name != content && f.dataType != BinaryType)
      .map { f =>
        val v = col(f.name)
        val keep = if (f.dataType == StringType) v.isNotNull && length(v) < 1000 else v.isNotNull
        when(keep, concat(lit("\n" + f.name + ": "), v.cast("string"))).otherwise(lit(""))
      }
    val markdown = concat((lit("---") +: meta) :+ lit("\n---\n") :+ col(content): _*)
    val filename = concat(format_string("%04d", col("sample_rank")), lit("_"),
      TextFns.sanitizeFilename(col(d.title.get).cast("string")), lit(".md"))
    sampled.select(filename.as("filename"), markdown.as("content"))
  }

  private def expectedNames(sample: Array[Long]): Set[String] =
    sample.zipWithIndex.map { case (id, r) => Gen.filename(r + 1, Gen.title(seed, id)) }.toSet

  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)

  private def callBytes(method: String, path: String): Array[Byte] = {
    val b = HttpRequest.newBuilder(URI.create(base + path)).timeout(java.time.Duration.ofSeconds(60))
    val req = (if (method == "POST") b.POST(HttpRequest.BodyPublishers.noBody()) else b.GET()).build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
    if (resp.statusCode != 200)
      throw new IllegalStateException(s"$method $path -> ${resp.statusCode}: ${new String(resp.body, UTF_8)}")
    resp.body
  }

  private def call(method: String, path: String): String = new String(callBytes(method, path), UTF_8)

  /** A top-level scalar of the server's flat JSON records. */
  private def field(json: String, key: String): String = {
    val m = ("\"" + key + "\":(\"([^\"]*)\"|([0-9]+))").r.findFirstMatchIn(json)
    m.map(x => Option(x.group(2)).getOrElse(x.group(3))).getOrElse("")
  }

  /** File names of an /api/files listing (sanitized names need no
    * unescaping). */
  private def filesOf(json: String): Seq[String] =
    "\"files\":\\[(.*)\\]".r.findFirstMatchIn(json).map(_.group(1)).toSeq
      .flatMap(_.split(",")).map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)
}
