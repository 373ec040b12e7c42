package perfbench

import org.apache.spark.sql.catalyst.expressions.XXH64

/** Seeded ground-truth generator. Every value is a pure function of
  * xxhash64 over (seed, salt, id, position) — never of an arithmetic
  * formula over the id, which can collapse distinct documents onto the
  * same content. The same seed always gives the same inputs. */
object Gen {

  def h(seed: Long, salt: Long, id: Long, pos: Long = 0L): Long =
    XXH64.hashLong(pos, XXH64.hashLong(id, XXH64.hashLong(salt, seed)))

  /** Uniform double in [0, 1) from a hash. */
  def u01(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))

  /** Hash to [0, n). */
  def below(x: Long, n: Int): Int = ((x >>> 1) % n).toInt

  // salts keep the hash streams of different fields independent
  private val SLen = 1L; private val SWord = 2L; private val SPunct = 3L
  private val STitle = 4L; private val SMeta = 5L; private val SBin = 6L
  private val STopic = 7L; private val SVec = 8L; private val SCent = 9L
  private val SPerm = 10L; private val SEdit = 11L; private val SQuery = 12L
  private val SMix = 13L; private val SUniq = 14L; private val SLabel = 15L

  // ---- vocabulary (seed-independent) -----------------------------------

  val Stopwords: Array[String] = Array(
    "the", "of", "and", "to", "a", "in", "is", "that", "for", "it", "as",
    "was", "with", "be", "by", "on", "not", "he", "this", "are", "or",
    "his", "from", "at", "which", "but", "have", "an", "had", "they",
    "you", "were", "their", "one", "all", "we", "can", "her", "has", "there")

  val VocabSize = 20000

  /** Rank-ordered vocabulary: stopwords first, then lowercase a-z words
    * of 3-9 letters spelled from the hash of their rank. */
  val vocab: Array[String] = Array.tabulate(VocabSize) { r =>
    if (r < Stopwords.length) Stopwords(r)
    else {
      val x = h(0L, 99L, r.toLong)
      val len = 3 + below(x, 7)
      val sb = new StringBuilder
      var i = 0
      while (i < len) { sb += ('a' + below(h(0L, 98L, r.toLong, i.toLong), 26)).toChar; i += 1 }
      sb.toString
    }
  }

  /** Zipf(s = 1) cumulative weights over the vocabulary ranks. */
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / (r + 1))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }

  def zipfRank(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(VocabSize - 1, if (i >= 0) i else -i - 1)
  }

  /** Word at `pos` of document `id`; `topic` >= 0 draws a quarter of the
    * words from that topic's 50-word band of the vocabulary. */
  def word(seed: Long, id: Long, pos: Int, topic: Int = -1): String = {
    val x = h(seed, SWord, id, pos.toLong)
    if (topic >= 0 && below(x, 4) == 0)
      vocab(1000 + topic * 50 + below(h(seed, STopic, id, pos.toLong), 50))
    else vocab(zipfRank(u01(x)))
  }

  /** Sentence-cased text with punctuation over `n` Zipfian words. */
  def text(seed: Long, id: Long, n: Int): String =
    render(Array.tabulate(n)(p => word(seed, id, p)), seed, id)

  /** Words joined into sentences: capitalized starts, commas, periods. */
  def render(words: Array[String], seed: Long, id: Long): String = {
    val sb = new StringBuilder
    var sentenceStart = true
    var i = 0
    while (i < words.length) {
      val w = words(i)
      if (i > 0) sb += ' '
      if (sentenceStart) sb ++= w.capitalize else sb ++= w
      sentenceStart = false
      val p = below(h(seed, SPunct, id, i.toLong), 12)
      if (i == words.length - 1 || p == 0) { sb += '.'; sentenceStart = true }
      else if (p == 1) sb += ','
      i += 1
    }
    sb.toString
  }

  def wordCount(seed: Long, id: Long, lo: Int, hi: Int): Int =
    lo + below(h(seed, SLen, id), hi - lo + 1)

  // ---- extract corpus --------------------------------------------------

  private val Accented: Array[String] = Array(
    "Über", "Café", "naïve", "Straße", "東京", "Ångström", "façade",
    "résumé", "Zürich", "São", "Dvořák", "Øresund")
  private val TitlePunct: Array[String] = Array(":", ",", "?", "!", "'s", " -", " (x)", "&", "/", ";")

  /** Title with punctuation and non-ASCII; one in twenty runs past the
    * 100-character filename cut. */
  def title(seed: Long, id: Long): String = {
    val long = below(h(seed, STitle, id, 0L), 20) == 0
    val n = if (long) 22 else 3 + below(h(seed, STitle, id, 1L), 6)
    val parts = Array.tabulate(n) { p =>
      val x = h(seed, STitle, id, 10L + p)
      val w =
        if (below(x, 7) == 0) Accented(below(h(seed, STitle, id, 100L + p), Accented.length))
        else vocab(40 + below(h(seed, STitle, id, 200L + p), 3000)).capitalize
      if (p < n - 1 && below(x >>> 20, 5) == 0)
        w + TitlePunct(below(h(seed, STitle, id, 300L + p), TitlePunct.length))
      else w
    }
    parts.mkString(" ")
  }

  final case class Paper(doc_id: Long, title: String, text: String, year: Int,
                         venue: String, score: Double, references: String,
                         thumbnail: Array[Byte])

  private val Venues = Array("ACL", "VLDB", "SIGMOD", "NeurIPS", "ICDE", "EDBT", "KDD", "CIKM")

  def paper(seed: Long, id: Long): Paper = {
    // references: >= 1000 characters, so the extractor must leave it out
    val refs = {
      val sb = new StringBuilder
      var k = 0
      while (sb.length < 1000 + below(h(seed, SMeta, id, 1L), 400)) {
        sb ++= s"[${k + 1}] ${vocab(40 + below(h(seed, SMeta, id, 10L + k), 5000)).capitalize} et al. " +
          s"${1990 + below(h(seed, SMeta, id, 2000L + k), 35)}. "
        k += 1
      }
      sb.toString
    }
    val thumb = Array.tabulate[Byte](64)(i => h(seed, SBin, id, i.toLong).toByte)
    Paper(id, title(seed, id), text(seed, id, wordCount(seed, id, 60, 140)),
      1990 + below(h(seed, SMeta, id, 3L), 35),
      Venues(below(h(seed, SMeta, id, 4L), Venues.length)),
      below(h(seed, SMeta, id, 5L), 400) / 4.0, refs, thumb)
  }

  /** Extractor filename rule: `%04d` rank, `_`, title with every char
    * outside [A-Za-z0-9 -_] replaced by `_`, spaces trimmed then
    * turned into `_`, cut to 100 chars, `.md`. */
  def filename(rank: Int, title: String): String = {
    val replaced = title.map(c =>
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
          c == ' ' || c == '-' || c == '_') c else '_')
    val trimmed = replaced.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    val s = trimmed.replace(' ', '_')
    f"$rank%04d_${s.substring(0, math.min(100, s.length))}.md"
  }

  /** Markdown file the extractor writes for a paper: front matter of the
    * non-content, non-binary columns (strings only below 1000 chars),
    * then the text. */
  def markdown(p: Paper): String = {
    val meta = Seq("doc_id" -> p.doc_id.toString, "title" -> p.title,
      "year" -> p.year.toString, "venue" -> p.venue, "score" -> p.score.toString) ++
      (if (p.references.length < 1000) Seq("references" -> p.references) else Nil)
    "---" + meta.map { case (k, v) => s"\n$k: $v" }.mkString + "\n---\n" + p.text
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** The extractor's sample: ids ordered by md5(`seed:id`), then id. */
  def sampleOrder(ids: Array[Long], seed: Int): Array[Long] =
    ids.map(i => (md5Hex(s"$seed:$i"), i)).sorted.map(_._2)

  /** The fixed `num_papers` mix — 100 : 1000 : 5000 as 2 : 3 : 1 — in a
    * seeded order within each cycle of six requests. 1000 is the default
    * `num_papers` of the REST server, the CLI and the API client, so it is
    * half the requests; the 2 : 1 split of the small and large classes is
    * an assumption, not measured traffic. */
  val MixCycle: Array[Int] = Array(100, 100, 1000, 1000, 1000, 5000)

  def numPapers(seed: Long, request: Int): Int = {
    val cycle = request / MixCycle.length
    val order = permutation(seed, SMix, cycle.toLong, MixCycle.length)
    MixCycle(order(request % MixCycle.length))
  }

  /** Seeded permutation of [0, n) (Fisher-Yates over hashed draws). */
  def permutation(seed: Long, salt: Long, id: Long, n: Int): Array[Int] = {
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = below(h(seed, salt + 1000L, id, i.toLong), i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  def requestSeed(seed: Long, request: Int): Int =
    (h(seed, SMix, 1000000L + request) & 0x7fffffffL).toInt

  // ---- ingest batches ----------------------------------------------------

  /** A batch with recorded ground truth: `exactPairs` and `nearPairs` are
    * (source doc_id, copy doc_id). */
  final case class Batch(docs: Seq[(Long, String)], exactPairs: Seq[(Long, Long)],
                         nearPairs: Seq[(Long, Long)])

  /** `size` new search documents with ids from `firstId`: 80 % distinct
    * originals, 10 % exact copies (every other one upper-cased, which the
    * tokenizer folds back), 10 % near copies with ~4 % of the words
    * replaced. Sources of the two kinds are disjoint, and ids are a
    * seeded permutation so a copy is not always the larger id. */
  def batch(seed: Long, batchNo: Long, size: Int, firstId: Long): Batch = {
    val s = h(seed, SPerm, batchNo) // one hash stream per batch
    val nCopies = size / 10
    val nOrig = size - 2 * nCopies
    val ids = permutation(s, SPerm, 0L, size).map(firstId + _)
    val srcs = permutation(s, SPerm, 1L, nOrig)
    val origWords = Array.tabulate(nOrig)(k => searchWords(seed, ids(k)) :+ uniqueTerm(seed, ids(k)))
    val origText = Array.tabulate(nOrig)(k => render(origWords(k), seed, ids(k)))
    val docs = Array.newBuilder[(Long, String)]
    val exact = Array.newBuilder[(Long, Long)]
    val near = Array.newBuilder[(Long, Long)]
    for (k <- 0 until nOrig) docs += ids(k) -> origText(k)
    for (j <- 0 until nCopies) {
      val src = srcs(j)
      val t = if (j % 2 == 0) origText(src) else origText(src).toUpperCase
      docs += ids(nOrig + j) -> t
      exact += ids(src) -> ids(nOrig + j)
    }
    for (j <- 0 until nCopies) {
      val src = srcs(nCopies + j)
      val copy = ids(nOrig + nCopies + j)
      val w = origWords(src).clone()
      for (e <- 0 until math.max(1, w.length / 25)) {
        val p = below(h(s, SEdit, copy, e.toLong), w.length)
        val r = vocab(40 + below(h(s, SEdit, copy, 100L + e), 15000))
        w(p) = if (r == w(p)) r + "x" else r
      }
      docs += copy -> render(w, seed, ids(src))
      near += ids(src) -> copy
    }
    Batch(docs.result().toSeq, exact.result().toSeq, near.result().toSeq)
  }

  // ---- search corpus -----------------------------------------------------

  val Dim = 64
  val Clusters = 64

  private def gauss(seed: Long, salt: Long, id: Long, d: Int): Double = {
    val u1 = math.max(u01(h(seed, salt, id, 2L * d)), 1e-12)
    val u2 = u01(h(seed, salt, id, 2L * d + 1))
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private val centroidCache = new java.util.concurrent.ConcurrentHashMap[(Long, Int), Array[Double]]()

  def centroid(seed: Long, c: Int): Array[Double] =
    centroidCache.computeIfAbsent((seed, c),
      _ => unit(Array.tabulate(Dim)(d => gauss(seed, SCent, c.toLong, d))))

  def label(seed: Long, id: Long): Int = below(h(seed, SLabel, id), Clusters)

  /** Unit vector of document `id`: its cluster centroid plus noise. */
  def vec(seed: Long, id: Long): Array[Double] = {
    val c = centroid(seed, label(seed, id))
    unit(Array.tabulate(Dim)(d => c(d) + 0.1 * gauss(seed, SVec, id, d)))
  }

  /** Words of a search document, leaning on its cluster's topic words. */
  def searchWords(seed: Long, id: Long): Array[String] = {
    val topic = label(seed, id)
    Array.tabulate(wordCount(seed, id, 40, 80))(p => word(seed, id, p, topic))
  }

  def searchText(seed: Long, id: Long): String = render(searchWords(seed, id), seed, id)

  /** A token outside the a-z vocabulary, so only the document it was
    * made for (and that document's copies) has it. */
  def uniqueTerm(seed: Long, id: Long): String = f"zq${h(seed, SUniq, id)}%016x"

  /** One query: terms from a target document, a vector near it. */
  final case class Query(qid: Long, target: Long, terms: Seq[String], vec: Array[Double])

  def query(seed: Long, qid: Long, nDocs: Long): Query = {
    val target = (h(seed, SQuery, qid) >>> 1) % nDocs
    val words = searchWords(seed, target)
    val terms = (0 until 3).map(k => words(below(h(seed, SQuery, qid, 1L + k), words.length))).distinct
    val v = vec(seed, target)
    val q = unit(Array.tabulate(Dim)(d => v(d) + 0.05 * gauss(seed, SQuery + 100L, qid, d)))
    Query(qid, target, terms, q)
  }
}

/** Generator self-check, run by the benchmark's tests:
  * `perfbench.GenCheck <seed>` prints one JSON line with a digest of a
  * sample of every input kind and the properties the ground truth needs. */
object GenCheck {
  def main(args: Array[String]): Unit = {
    val seed = args(0).toLong
    def norm(t: String) = t.toLowerCase.split("[^a-z0-9_]+").filter(_.nonEmpty).mkString(" ")
    val papers = (0L until 2000L).map(Gen.paper(seed, _))
    val b = Gen.batch(seed, 0, 400, 5000)
    val text = b.docs.toMap
    val queries = (1L to 16L).map(q => Gen.query(seed, -q, 5000))
    val digest = Gen.md5Hex((
      papers.map(p => Gen.markdown(p) + p.references + p.thumbnail.mkString(",")) ++
        b.docs.map { case (id, t) => s"$id:$t" } ++
        queries.map(q => s"${q.target}:${q.terms.mkString(" ")}:${q.vec.mkString(",")}") ++
        (0 until 12).map(Gen.numPapers(seed, _).toString)).mkString("\n"))
    println(Json.obj(
      "digest" -> digest,
      "papers" -> papers.size,
      "distinct_papers" -> papers.map(_.text).distinct.size,
      "batch_docs" -> b.docs.size,
      "exact_pairs" -> b.exactPairs.size,
      "distinct_batch_docs" -> b.docs.map(d => norm(d._2)).distinct.size,
      "exact_pairs_equal_tokens" -> b.exactPairs.forall { case (a, c) => norm(text(a)) == norm(text(c)) },
      "near_pairs_differ" -> b.nearPairs.forall { case (a, c) => norm(text(a)) != norm(text(c)) }))
  }
}
