package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Curation, Dedup, Retrieval, Similarity}
import graft.sources.Tables

/** Serve and ingest operators leave nothing behind in a session that
  * stays up: a frame an operator reads more than once is a local
  * checkpoint owned by the returned plan (the rule in
  * [[graft.operators.IterCheckpoint]]), so the cache manager gains no
  * entry and every RDD persisted along the way is freed by Spark's
  * ContextCleaner once the caller drops the result. No `clearCache()`
  * or `unpersist` runs between the operator calls and the assertions.
  */
class OperatorLeakSpec extends AnyFunSuite {
  lazy val spark = GraftSession.test
  private val sf = "/root/testdata/sf0.001"

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  /** Ids only: a `keySet` view would hold the id→RDD map, and with it
    * every RDD this spec waits for the cleaner to free. */
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keysIterator.toSet

  /** RDDs persisted since `before` that are still persisted after
    * polling `System.gc()` for at most 10 s. */
  private def leftAfterGc(before: Set[Int]): Set[Int] = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var left = persisted -- before
    while (left.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
      left = persisted -- before
    }
    left
  }

  /** One serve batch over the stored indexes: BM25 over the bucketed
    * postings and IVFPQ with exact refine over the bucketed vectors.
    * Only collected rows leave this method. */
  private def serveBatch(b: Int, ivfBase: String): (Int, Int) = {
    val (postings, stats) = Retrieval.bm25Store(spark, sf)
    val lo = b * 5L
    val qterms = postings.filter(col("doc_id") >= lo && col("doc_id") < lo + 5)
      .select(col("doc_id").as("qid"), col("term"))
    val bm25 = Retrieval.bm25Of(postings, stats, qterms, 10).collect()
    val queries = Similarity.emb(spark, sf)
      .filter(col("vec_id") >= lo && col("vec_id") < lo + 5)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    val ann = Similarity.ivfPqOf(Similarity.ivfPqReadCodes(spark, ivfBase),
        spark.read.parquet(s"$ivfBase/books"), spark.read.parquet(s"$ivfBase/cells"),
        queries,
        refine = Some(Similarity.vecStore(spark, sf)),
        refineFlat = Some((Similarity.vecStoreFlatView(spark, sf),
          Similarity.vecBuckets(spark, sf))))
      .collect()
    (bm25.length, ann.length)
  }

  test("20 stored-index serve batches (bm25Of + ivfPqOf with refine) leave no cache entry and no persisted RDD") {
    // store builds are outside the measured window: the batch entries'
    // builders cache their inputs, which this spec does not cover
    val ivfBase = Similarity.ivfPqWriteIndex(spark, sf,
      java.nio.file.Files.createTempDirectory("leak_ivfpq").toString + "/idx")
    serveBatch(0, ivfBase)
    spark.catalog.clearCache()
    val before = persisted
    (0 until 20).foreach { b =>
      val (nBm25, nAnn) = serveBatch(b, ivfBase)
      assert(nBm25 > 0 && nAnn > 0, s"batch $b served nothing")
      assert(cacheEmpty, s"batch $b left a cache-manager entry")
    }
    val left = leftAfterGc(before)
    assert(left.isEmpty, s"RDDs still persisted after the serve batches: $left")
  }

  /** The ingest-side operators over sf0.001, each materialized by a
    * write-shaped action; returns their row counts only. */
  private def ingestOnce(): Seq[Long] = {
    def rows(df: org.apache.spark.sql.DataFrame): Long = {
      val n = df.collect().length.toLong
      assert(cacheEmpty, s"materializing left a cache-manager entry")
      n
    }
    val curated = rows(Curation.pipelineCurateOf(Tables.documents(spark, sf)))
    val dedup = rows(Dedup.dedupPipeline(spark, sf))
    val (codes, books, cells) = Similarity.ivfPqIndexOf(Similarity.emb(spark, sf))
    Seq(curated, dedup, rows(codes), rows(books), rows(cells))
  }

  test("pipelineCurateOf, dedupPipeline and ivfPqIndexOf results add no cache entry; their RDDs are freed once dropped") {
    spark.catalog.clearCache()
    val before = persisted
    val counts = ingestOnce()
    assert(counts.forall(_ > 0), s"an operator returned no rows: $counts")
    val left = leftAfterGc(before)
    assert(left.isEmpty, s"RDDs still persisted after the results were dropped: $left")
  }
}
