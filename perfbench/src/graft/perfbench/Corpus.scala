package graft.perfbench

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession

import graft.analysis.StopWords
import graft.search._

/** Seeded Zipfian page generator: rows `(url, warc_ts, html, text, lang)`.
  *
  * Words are drawn from a ~50k-word vocabulary with Zipf exponent 1, so head
  * terms sit in most pages and tail terms in a handful — the skew that WAND
  * pruning and the head-term pack cost depend on. `text` is single-space
  * separated lowercase ASCII with no stop words, so the `summa` analyzer over
  * it is exactly a split on ' ' (the token model `OracleSql` assumes), and
  * the BM25 oracle can run straight over the raw corpus.
  *
  * Every page is a pure function of (seed, row id); only `StrictMath` and
  * integer arithmetic are used, so the bytes are identical on every JVM.
  */
object Corpus {
  val VocabSize = 50000
  val HeadRanks = 100
  val TorsoRanks = 5000
  val Langs: Array[String] = Array("en", "de", "ru", "es")
  private val LangCdf = Array(50, 70, 85, 100) // percent: en 50, de 20, ru 15, es 15
  private val Epoch = 1767225600000L // 2026-01-01T00:00:00Z

  private val Onsets = Array("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z",
    "br", "cr", "dr", "gr", "pl", "st", "tr", "sk")
  private val Vowels = Array("a", "e", "i", "o", "u", "ai", "ou")

  /** Vocabulary by Zipf rank (0 = most frequent). Never contains 'q', so any
    * word with a 'q' is guaranteed to be absent from the index.
    */
  lazy val vocab: Array[String] = {
    val seen = new java.util.HashSet[String]()
    val out = new Array[String](VocabSize)
    var r = 0
    var i = 0L
    while (r < VocabSize) {
      var s = mix(i + 0x5EED)
      // short words at the head, longer ones down the tail
      val syl = if (i < 200) 1 else if (i < 20000) 2 else 3
      val sb = new StringBuilder
      var k = 0
      while (k < syl) {
        s = mix(s); sb.append(Onsets(((s >>> 33) % Onsets.length).toInt))
        s = mix(s); sb.append(Vowels(((s >>> 33) % Vowels.length).toInt))
        k += 1
      }
      val w = sb.toString
      if (!StopWords.All.contains(w) && seen.add(w)) { out(r) = w; r += 1 }
      i += 1
    }
    out
  }

  /** Rank of each word (for band classification of sampled terms). */
  lazy val rankOf: Map[String, Int] = vocab.zipWithIndex.toMap

  /** Zipf(s = 1) cumulative weights over the vocabulary, fixed-point so the
    * sampler is integer-only.
    */
  private lazy val cdf: Array[Long] = {
    val c = new Array[Long](VocabSize)
    var acc = 0.0
    var r = 0
    while (r < VocabSize) { acc += 1.0 / (r + 1); c(r) = StrictMath.round(acc * 1e12); r += 1 }
    c
  }

  @inline def mix(x0: Long): Long = {
    // splitmix64 finaliser
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Seeded stream of uniform draws. */
  final class Rng(seed: Long) {
    private var s = mix(seed)
    def nextLong(): Long = { s = mix(s); s }
    def below(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
    def zipfRank(): Int = {
      val total = cdf(VocabSize - 1)
      val u = java.lang.Long.remainderUnsigned(nextLong(), total)
      val i = java.util.Arrays.binarySearch(cdf, u + 1)
      if (i >= 0) i else -i - 1
    }
  }

  /** Word ranks of page `i` (50–300 words). */
  def pageRanks(seed: Long, i: Long): Array[Int] = {
    val rng = new Rng(seed * 0x100000001B3L ^ i)
    val n = 50 + rng.below(251)
    Array.fill(n)(rng.zipfRank())
  }

  def url(seed: Long, i: Long): String = s"https://site${i % 997}.example/s$seed/p/$i"

  /** Row id back from a generated url. */
  def rowId(url: String): Long = url.substring(url.lastIndexOf('/') + 1).toLong

  def page(seed: Long, i: Long): Page = {
    val text = pageRanks(seed, i).map(vocab(_)).mkString(" ")
    val lp = (mix(seed ^ (i * 31)) >>> 33) % 100
    val lang = Langs(LangCdf.indexWhere(lp < _))
    val html = s"<article><p>$text</p></article>"
    Page(url(seed, i), new Timestamp(Epoch + i * 1000L),
      html.getBytes(java.nio.charset.StandardCharsets.UTF_8), text, lang)
  }

  /** Generate pages `[from, until)` of the seed's corpus as parquet at `dir`. */
  def write(spark: SparkSession, seed: Long, from: Long, until: Long, dir: String): String = {
    import spark.implicits._
    spark.range(from, until, 1L, 4).map(i => page(seed, i)).write.mode("overwrite").parquet(dir)
    dir
  }

  // ------------------------------------------------------------ queries

  /** The six serve shapes, equally weighted. */
  val Shapes: Seq[String] = Seq("term", "bool", "phrase", "match", "head", "dismax")

  final case class Req(id: Int, shape: String, query: Query, terms: Seq[String])

  /** Request list for the corpus of `seed`, drawn from the stream `stream`.
    * Terms come in equal thirds from the head
    * (rank < 100), torso (< 5000) and tail bands; about one term in twenty is
    * an unindexed word. Terms within one request are distinct, so every
    * bag-shaped request is WAND-eligible. Phrase pairs are two adjacent words
    * of a generated page, so they always match at least that page.
    */
  def requests(seed: Long, nPages: Long, n: Int, stream: Long = 0): Seq[Req] = {
    val rng = new Rng(seed ^ 0x0BADC0FFEEL ^ (stream << 32))
    var band = 0
    def term(): String =
      if (rng.below(20) == 0) s"q${rng.below(100000)}x"
      else {
        band = (band + 1) % 3
        val r = band match {
          case 0 => rng.below(HeadRanks)
          case 1 => HeadRanks + rng.below(TorsoRanks - HeadRanks)
          case _ => TorsoRanks + rng.below(VocabSize - TorsoRanks)
        }
        vocab(r)
      }
    def distinct(k: Int): Seq[String] = {
      val out = scala.collection.mutable.LinkedHashSet[String]()
      while (out.size < k) out += term()
      out.toSeq
    }
    def t(w: String): Query = TermQuery("text", w)
    (0 until n).map { id =>
      val shape = Shapes(id % Shapes.size)
      shape match {
        case "term" =>
          val Seq(a) = distinct(1); Req(id, shape, t(a), Seq(a))
        case "bool" =>
          val Seq(a, b) = distinct(2)
          Req(id, shape, BooleanQuery(Seq((Occur.Must, t(a)), (Occur.Should, t(b)))), Seq(a, b))
        case "phrase" =>
          val ranks = pageRanks(seed, java.lang.Long.remainderUnsigned(rng.nextLong(), nPages))
          val p = rng.below(ranks.length - 1)
          val (a, b) = (vocab(ranks(p)), vocab(ranks(p + 1)))
          Req(id, shape, PhraseQuery("text", Seq((0, a), (1, b))), Seq(a, b))
        case "match" =>
          val Seq(a, b, c) = distinct(3)
          Req(id, shape, MatchQuery(s"$a $b -$c"), Seq(a, b, c))
        case "head" =>
          val Seq(a) = distinct(1)
          Req(id, shape, BooleanQuery(Seq(
            (Occur.Must, TermQuery("lang", "en")), (Occur.Should, t(a)))), Seq(a))
        case _ =>
          val ws = distinct(4)
          Req(id, shape, DisjunctionMaxQuery(ws.map(t), 0.3), ws)
      }
    }
  }

  /** Canonical one-line rendering of a request (for fingerprints and logs). */
  def render(r: Req): String = s"${r.id}\t${r.shape}\t${r.query}"
}

final case class Page(url: String, warc_ts: Timestamp, html: Array[Byte], text: String, lang: String)
