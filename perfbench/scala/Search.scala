package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFns
import graft.operators.{Curation, Dedup, Graph, Retrieval, Similarity}

/** `search`: hybrid retrieval over stored indexes, with curated ingest
  * mixed in.
  *
  * A query request sends a batch of queries through `Retrieval.bm25Of`
  * and `Similarity.ivfPqOf` with exact refine, fuses the two lists with
  * `Retrieval.rrfFuseOf` and collects all three.
  *
  * Every third request is an ingest of a new seeded batch carrying
  * injected exact and near duplicates: `Curation.pipelineCurateOf` and
  * `Dedup.dedupPipeline` run over the batch and write their full
  * results, the documents both keep are merged with `bm25IndexMerge` and
  * `ivfPqIndexMerge`, and the merged stores are written for later
  * queries to read.
  *
  * The 1-in-3 ingest share and the 400-document batch are assumptions,
  * not measured traffic: they make every run hold one ingest, so a cost
  * moved from reads to writes shows in the same run. */
final class Search(ctx: Ctx) extends Workload {
  import ctx._

  val Docs = 5000
  val Batch = 16
  val IngestDocs = 400
  val IngestEvery = 3
  val Depth = 10
  /** List depth `Similarity.ivfPqOf` serves; recall is measured at it. */
  val AnnDepth = 5
  val cycle: Int = IngestEvery
  val primary = "query"

  private var dir: File = _
  private var generation = 0
  private var ingested = 0
  private var postings, stats, codes, books, cells, vecs: DataFrame = _
  /** Every indexed vector by doc_id, for exact top-k in the harness. */
  private val vectors = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Double]]
  private var hits = 0L
  private var wanted = 0L

  def kindOf(i: Int): String = if (i % IngestEvery == IngestEvery - 1) "ingest" else "query"

  def prepare(d: File): Unit = {
    dir = d
    d.mkdirs()
    import spark.implicits._
    val s = seed
    val docsPath = new File(d, "docs.parquet").getPath
    val embPath = new File(d, "emb.parquet").getPath
    spark.range(0, Docs, 1, 8).as[Long]
      .map(id => (id, Gen.searchText(s, id))).toDF("doc_id", "text")
      .write.parquet(docsPath)
    writeVectors(0L until Docs, embPath)

    val g = genDir(0)
    val (p, st) = Retrieval.bm25IndexOf(spark.read.parquet(docsPath))
    val all = spark.read.parquet(embPath)
    val (c, b, cl) = Similarity.ivfPqIndexOf(all)
    writeStore(g, Store(p, st, c, all.select("vec_id", "vec")))
    // the codebooks and cell centroids stay frozen across merges
    b.write.parquet(s"$modelDir/books")
    cl.write.parquet(s"$modelDir/cells")
    books = spark.read.parquet(s"$modelDir/books")
    cells = spark.read.parquet(s"$modelDir/cells")
    open(g)
    (0L until Docs).foreach(id => vectors(id) = Gen.vec(s, id))
  }

  def warmUp(): Unit = {
    query(-1)
    ingest()
  }

  def request(i: Int): Outcome = if (kindOf(i) == "ingest") ingest() else query(i)

  def recall: Double = if (wanted == 0) 0.0 else hits.toDouble / wanted

  def close(): Unit = ()

  private def genDir(g: Int): String = new File(dir, s"store/gen-$g").getPath
  private def modelDir: String = new File(dir, "store/model").getPath

  private def open(g: String): Unit = {
    postings = spark.read.parquet(s"$g/postings")
    stats = spark.read.parquet(s"$g/stats")
    codes = spark.read.schema("s INT, vec_id BIGINT, cid INT, label INT").parquet(s"$g/codes")
    vecs = spark.read.parquet(s"$g/vecs")
  }

  private def writeVectors(ids: Seq[Long], path: String): Unit = {
    val s = seed
    local(ids.map(id => Row(id, Gen.label(s, id), Gen.vec(s, id).toSeq)).toArray,
      StructType(Seq(StructField("vec_id", LongType), StructField("label", IntegerType),
        StructField("vec", ArrayType(DoubleType))))).repartition(4).write.parquet(path)
  }

  private def local(rows: Array[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def consume(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  // ---- query ---------------------------------------------------------------

  private def query(i: Int): Outcome = {
    val qs = (0 until Batch).map(j => Gen.query(seed, -(i.toLong + 2) * Batch - j, Docs))
    val qterms = local(qs.flatMap(q => q.terms.map(t => Row(q.qid, t))).toArray,
      StructType(Seq(StructField("qid", LongType), StructField("term", StringType))))
    val queries = local(qs.map(q => Row(q.qid, q.vec.toSeq)).toArray,
      StructType(Seq(StructField("qid", LongType), StructField("qvec", ArrayType(DoubleType)))))
    val listSchema = StructType(Seq(StructField("qid", LongType), StructField("id", LongType),
      StructField("rn", IntegerType)))

    val ((ann, fused), latency) = Bench.timed {
      val bm25 = tracer.span("bm25_serve")(
        Retrieval.bm25Of(postings, stats, qterms, Depth).select("qid", "doc_id", "rn").collect())
      val ann = tracer.span("ivfpq_serve")(
        Similarity.ivfPqOf(codes, books, cells, queries, refine = Some(vecs))
          .select("qid", "nid", "rn").collect())
      val fused = tracer.span("rrf_fuse")(
        Retrieval.rrfFuseOf(Seq(local(bm25, listSchema), local(ann, listSchema)), Depth).collect())
      (ann, fused)
    }

    val qids = qs.map(_.qid).toSet
    checks(s"search[$i].fused", fused.nonEmpty && fused.forall(r => qids(r.getLong(0)) && r.getInt(1) <= Depth),
      s"${fused.length} fused rows")
    if (i >= 0) qs.foreach { q =>
      val served = ann.filter(_.getLong(0) == q.qid).map(_.getLong(1)).toSet
      hits += (exactTop(q.vec, AnnDepth) intersect served).size
      wanted += AnnDepth
    }
    if (tracer.active) traceServe(queries)
    Outcome("query", latency, qs.size)
  }

  /** Exact cosine top-k over every indexed vector (base and ingested). */
  private def exactTop(q: Array[Double], k: Int): Set[Long] =
    vectors.iterator.map { case (id, v) =>
      var dot = 0.0
      var d = 0
      while (d < v.length) { dot += v(d) * q(d); d += 1 }
      (-dot, id)
    }.toArray.sorted.take(k).map(_._2).toSet

  /** Traced run only: the IVFPQ serve split into its probe (ADC over the
    * probed cells' codes) and its exact refine over the probe's lists. */
  private def traceServe(queries: DataFrame): Unit = {
    val probed = tracer.span("ivfpq_probe")(
      Similarity.ivfPqOf(codes, books, cells, queries).select("qid", "nid", "adc").collect())
    val cands = local(probed, StructType(Seq(StructField("qid", LongType),
      StructField("nid", LongType), StructField("adc", DoubleType))))
    tracer.span("refine")(Similarity.refineOf(cands, "adc", queries, vecs).collect())
  }

  // ---- ingest --------------------------------------------------------------

  private def ingest(): Outcome = {
    import spark.implicits._
    val batchNo = ingested
    val b = Gen.batch(seed, batchNo, IngestDocs, Docs + batchNo.toLong * IngestDocs)
    val bdir = new File(dir, s"ingest-$batchNo")
    val docsPath = new File(bdir, "documents.parquet").getPath
    val embPath = new File(bdir, "emb.parquet").getPath
    val curatedPath = new File(bdir, "curated.parquet").getPath
    val dedupPath = new File(bdir, "dedup.parquet").getPath
    b.docs.toDF("doc_id", "text").withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(4).write.parquet(docsPath)
    writeVectors(b.docs.map(_._1), embPath)
    val g = genDir(generation + 1)
    val before = Store(postings, stats, codes, vecs)

    val ((newDocs, newVecs), latency) = Bench.timed(tracer.span("ingest") {
      leakSpan("pipeline_curate")(
        Curation.pipelineCurateOf(spark.read.parquet(docsPath)).write.parquet(curatedPath))
      leakSpan("dedup_pipeline")(
        Dedup.dedupPipeline(spark, bdir.getPath).write.parquet(dedupPath))
      // indexed: documents the quality gate passed and dedup kept
      val keep = spark.read.parquet(curatedPath).select("doc_id")
        .join(spark.read.parquet(dedupPath).filter(col("status") === "kept").select("doc_id"), "doc_id")
      val newDocs = spark.read.parquet(docsPath).join(keep, "doc_id").select("doc_id", "text")
      val newVecs = spark.read.parquet(embPath)
        .join(keep.withColumnRenamed("doc_id", "vec_id"), "vec_id")
      writeStore(g, merged(before, newDocs, newVecs))
      open(g)
      (newDocs, newVecs)
    })
    generation += 1
    ingested += 1
    checkIngest(b, batchNo, curatedPath, dedupPath)
    if (tracer.active) {
      traceMerge(before, newDocs, newVecs, new File(bdir, "traced-store").getPath)
      traceCuration(bdir.getPath, docsPath)
    }
    Bench.deleteTree(bdir)
    if (generation >= 2) Bench.deleteTree(new File(genDir(generation - 2)))
    // items_per_s counts queries answered; an ingest adds its time only
    Outcome("ingest", latency, 0)
  }

  /** The four frames of one store generation. */
  private final case class Store(postings: DataFrame, stats: DataFrame, codes: DataFrame, vecs: DataFrame)

  /** `s` with the new documents and vectors merged in (lazy). */
  private def merged(s: Store, newDocs: DataFrame, newVecs: DataFrame): Store = {
    val (p, st) = Retrieval.bm25IndexMerge(s.postings, s.stats, newDocs)
    val c = Similarity.ivfPqIndexMerge(s.codes, books, cells, newVecs)
    Store(p, st, c, s.vecs.unionByName(newVecs.select("vec_id", "vec")))
  }

  /** Traced run only: the ingest's merges and store write again, over the
    * same inputs, each merge materialized on its own and the write into a
    * scratch directory. */
  private def traceMerge(before: Store, newDocs: DataFrame, newVecs: DataFrame, scratch: String): Unit = {
    def materialized(df: DataFrame): DataFrame = { val m = df.persist(); consume(m); m }
    val (p, st) = tracer.span("bm25_merge") {
      val (p, st) = Retrieval.bm25IndexMerge(before.postings, before.stats, newDocs)
      (materialized(p), materialized(st))
    }
    val (c, v) = tracer.span("ivfpq_merge")((
      materialized(Similarity.ivfPqIndexMerge(before.codes, books, cells, newVecs)),
      materialized(before.vecs.unionByName(newVecs.select("vec_id", "vec")))))
    tracer.span("store_write")(writeStore(scratch, Store(p, st, c, v)))
    Seq(p, st, c, v).foreach(_.unpersist())
  }

  private def checkIngest(b: Gen.Batch, batchNo: Int, curatedPath: String, dedupPath: String): Unit = {
    import spark.implicits._
    val s = seed
    val rows = spark.read.parquet(dedupPath).select("doc_id", "survivor_id", "status")
      .as[(Long, Long, String)].collect()
    val status = rows.map(r => r._1 -> r._3).toMap
    val survivor = rows.map(r => r._1 -> r._2).toMap
    val exactCopies = b.exactPairs.map { case (a, c) => math.max(a, c) }.toSet
    val nearCopies = b.nearPairs.map { case (a, c) => math.max(a, c) }.toSet
    val exactGot = rows.filter(_._3 == "exact_dup").map(_._1).toSet
    checks(s"ingest[$batchNo].rows", rows.length == b.docs.size, s"${rows.length} of ${b.docs.size}")
    checks(s"ingest[$batchNo].exact_dups", exactGot == exactCopies,
      s"${(exactCopies -- exactGot).size} missed, ${(exactGot -- exactCopies).size} spurious")
    val near = b.nearPairs.count { case (a, c) =>
      val hi = math.max(a, c)
      status.get(hi).contains("near_dup") && survivor.get(hi) == survivor.get(math.min(a, c))
    }
    tracer.count("dedup", "near_pairs", rows.count(_._3 == "near_dup").toDouble)
    tracer.count("dedup", "near_recall", near.toDouble / b.nearPairs.size)

    val kept = spark.read.parquet(curatedPath).select("doc_id").as[Long].collect().toSet
      .intersect(rows.filter(_._3 == "kept").map(_._1).toSet)
    // exact copies never reach the index; a near copy does only when the
    // LSH stage missed its pair (which near_recall counts)
    val nearMissed = nearCopies.filterNot(c => status.get(c).contains("near_dup"))
    checks(s"ingest[$batchNo].no_copies_indexed",
      (kept intersect exactCopies).isEmpty && (kept intersect nearCopies) == nearMissed,
      "a detected duplicate was indexed")
    kept.foreach(id => vectors(id) = Gen.vec(s, id))

    // both documents of an exact pair carry the source's unique term; the
    // merged index must return the indexed one (the smaller id) alone
    b.exactPairs.find { case (a, c) => kept(math.min(a, c)) }.foreach { case (src, copy) =>
      val want = math.min(src, copy)
      val hit = Retrieval.bm25Of(postings, stats, Seq((-1L, Gen.uniqueTerm(s, src))).toDF("qid", "term"), 2)
        .select("doc_id").as[Long].collect()
      checks(s"ingest[$batchNo].unique_term", hit.toSeq == Seq(want), s"hits ${hit.mkString(",")}, want $want")
    }
  }

  /** Traced run only: the layers under the two curation pipelines, one by
    * one, each over a materialized input. */
  private def traceCuration(batchDir: String, docsPath: String): Unit = {
    val docs = spark.read.parquet(docsPath)
    val toks = tracer.span("tokenize") {
      // n_chars keeps this plan apart from the token frame pipelineCurateOf
      // left cached, so the span tokenizes instead of reading that cache
      val t = docs.select(col("doc_id"), TextFns.tokens(col("text")).as("t"), col("n_chars")).persist()
      consume(t)
      t
    }
    tracer.span("quality_gate")(consume(Curation.qualityGateOf(toks)))
    toks.unpersist()
    tracer.span("shingle_sets")(consume(Dedup.shingleSets(docs)))
    tracer.span("minhash")(consume(Dedup.minhashSignatures(docs)))
    val pairs = Dedup.minhashLsh(spark, batchDir)
      .select(col("da").as("src"), col("db").as("dst")).persist()
    consume(pairs)
    tracer.span("connected_components")(
      consume(Graph.connectedComponents(docs.select(col("doc_id").as("id")), pairs)))
    pairs.unpersist()
  }

  private def writeStore(g: String, s: Store): Unit = {
    s.postings.write.parquet(s"$g/postings")
    s.stats.write.parquet(s"$g/stats")
    s.codes.repartition(col("label")).write.partitionBy("label").parquet(s"$g/codes")
    s.vecs.write.parquet(s"$g/vecs")
  }
}
