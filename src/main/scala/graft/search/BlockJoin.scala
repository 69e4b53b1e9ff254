package graft.search

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.index.PostingCodec

/** Block-aligned phrase plans (optimization guide §2.3 "shuffle fewer
  * bytes" / §3.3 "explode before a join multiplies the shuffle"): instead of
  * exploding each term's posting blocks into per-occurrence `(segment_id,
  * doc_id, …)` rows and sort-merge-joining those, join the PACKED block rows
  * on `(segment_id, block_id)` — one row per (term, block) instead of up to
  * `blockSpan` (1024) rows — and intersect the doc lists inside the matched
  * block with a streaming cursor walk. The join then shuffles ~128–1024×
  * fewer rows for the same result.
  *
  * Result identity: a doc containing all terms occupies the same
  * `block_id = doc_id >>> blockBits` in every term's postings, so the block
  * join loses no matches; the phrase tf and first-term norm surface exactly
  * as the exploded plan produced them, and the caller applies the SAME
  * [[BM25.scoreCol]] column expression over them, so scores are bitwise
  * identical (pinned by SearchSpec / the sf0.01+sf0.1 oracle sweeps).
  * The postings table holds exactly one row per (segment, field, term,
  * block) — the build's fragment merge guarantees it — so the equi-join is
  * 1:1 per term and can never duplicate matches. Term bags do not join at
  * all: [[WandTopK.hits]] evaluates them per block group in one aggregation.
  */
object BlockJoin {

  /** One phrase match: alignment count (phrase tf) + first term's norm. */
  final case class PhraseMatch(doc_id: Int, tf: Int, norm_id: Int)

  /** Every doc present in all k sorted doc-id lists, in doc order: calls
    * `f(i0, cursor)` with the doc's index `i0` in the lead list and
    * `cursor(j)` its index in list j (`cursor(0) == i0`). Lists are sorted
    * (pack order), so a single forward cursor per list suffices.
    */
  def intersect(ids: Array[Array[Int]])(f: (Int, Array[Int]) => Unit): Unit = {
    val k = ids.length
    val cursor = new Array[Int](k)
    val lead = ids(0)
    var i0 = 0
    while (i0 < lead.length) {
      val d = lead(i0)
      var all = true
      var j = 1
      while (all && j < k) {
        val a = ids(j)
        var c = cursor(j)
        while (c < a.length && a(c) < d) c += 1
        cursor(j) = c
        all = c < a.length && a(c) == d
        j += 1
      }
      if (all) { cursor(0) = i0; f(i0, cursor) }
      i0 += 1
    }
  }

  /** Decode k positional posting blocks of one (segment, block) and call
    * `f(doc_id, i0, positionsPerTerm)` for every doc present in all k lists
    * (`i0` indexes the first term's block).
    */
  def phraseDocs(ds: Seq[Array[Byte]], ts: Seq[Array[Byte]], ps: Seq[Array[Byte]], ns: Seq[Int])(
      f: (Int, Int, Seq[Seq[Int]]) => Unit): Unit = {
    val k = ns.length
    val ids = Array.tabulate(k)(i => PostingCodec.unpackDocIds(ds(i), ns(i)))
    val poss = Array.tabulate(k)(i =>
      PostingCodec.unpackPositions(ps(i), PostingCodec.unpackVarInts(ts(i), ns(i))))
    intersect(ids) { (i0, cursor) =>
      f(ids(0)(i0), i0, Seq.tabulate(k)(t => ArraySeq.unsafeWrapArray(poss(t)(cursor(t)))))
    }
  }

  /** Intersect k positional posting blocks of one (segment, block) and emit
    * (doc_id, [[PostingUdfs.phraseTf]], first-term norm — `m0` is the first
    * term's norms blob) for each doc with ≥1 alignment.
    */
  val phraseUdf7: UserDefinedFunction =
    udf((ds: Seq[Array[Byte]], ts: Seq[Array[Byte]], ps: Seq[Array[Byte]], m0: Array[Byte],
         ns: Seq[Int], offsets: Seq[Int], slop: Int) => {
      val out = Seq.newBuilder[PhraseMatch]
      phraseDocs(ds, ts, ps, ns) { (d, i0, pos) =>
        val ptf = PostingUdfs.phraseTf(pos, offsets, slop)
        if (ptf > 0) out += PhraseMatch(d, ptf, m0(i0) & 0xFF)
      }
      out.result()
    })

  /** One phrase-explain match: first-term norm + the matched base-term
    * alignment positions ([[PostingUdfs.phraseMatchPositions]]).
    */
  final case class PhrasePosMatch(doc_id: Int, norm_id: Int, mpos: Seq[Int])

  /** [[phraseUdf7]] for the per-hit explain path: emits the matched
    * alignment positions ([[PostingUdfs.phraseMatchPositions]]), not their count.
    */
  val phrasePosUdf7: UserDefinedFunction =
    udf((ds: Seq[Array[Byte]], ts: Seq[Array[Byte]], ps: Seq[Array[Byte]], m0: Array[Byte],
         ns: Seq[Int], offsets: Seq[Int], slop: Int) => {
      val out = Seq.newBuilder[PhrasePosMatch]
      phraseDocs(ds, ts, ps, ns) { (d, i0, pos) =>
        val mpos = PostingUdfs.phraseMatchPositions(pos, offsets, slop)
        if (mpos.nonEmpty) out += PhrasePosMatch(d, m0(i0) & 0xFF, ArraySeq.unsafeWrapArray(mpos))
      }
      out.result()
    })

  /** Positional block rows of one term, columns suffixed by term index. */
  private def termBlocks(reader: IndexReader, field: String, term: String, i: Int): DataFrame =
    reader.postings
      .filter(col("field") === field && col("term") === term && col("positions").isNotNull)
      .select(
        col("segment_id"), col("block_id"),
        col("doc_count").as(s"__n$i"), col("doc_ids").as(s"__d$i"),
        col("tfs").as(s"__t$i"), col("norms").as(s"__m$i"), col("positions").as(s"__p$i"))

  /** The ≥2 terms' positional blocks joined on `(segment_id, block_id)`,
    * exploded through `phraseUdf` (either of the two UDFs above) into
    * `(segment_id, m)`.
    */
  private def phraseJoin(reader: IndexReader, field: String, terms: Seq[String],
                         offsets: Seq[Int], slop: Int, phraseUdf: UserDefinedFunction): DataFrame = {
    require(terms.size >= 2)
    val n = terms.size
    def arr(c: String) = array((0 until n).map(i => col(s"$c$i")): _*)
    terms.zipWithIndex
      .map { case (t, i) => termBlocks(reader, field, t, i) }
      .reduce((a, b) => a.join(b, Seq("segment_id", "block_id"), "inner"))
      .select(col("segment_id"), explode(phraseUdf(
        arr("__d"), arr("__t"), arr("__p"), col("__m0"), arr("__n"),
        typedLit(offsets), lit(slop))).as("m"))
  }

  /** Phrase candidates of ≥2 terms via the block join. Returns
    * `(segment_id, doc_id, phrase_tf, norm_id)` for docs with ≥1 alignment.
    */
  def phraseMatches(reader: IndexReader, field: String, terms: Seq[String],
                    offsets: Seq[Int], slop: Int): DataFrame =
    phraseJoin(reader, field, terms, offsets, slop, phraseUdf7)
      .select(col("segment_id"), col("m.doc_id").as("doc_id"),
        col("m.tf").as("phrase_tf"), col("m.norm_id").as("norm_id"))

  /** Phrase-explain candidates of ≥2 terms via the block join: returns
    * `(segment_id, doc_id, norm_id, __mpos)` for docs with ≥1 alignment.
    */
  def phraseDetailMatches(reader: IndexReader, field: String, terms: Seq[String],
                          offsets: Seq[Int], slop: Int): DataFrame =
    phraseJoin(reader, field, terms, offsets, slop, phrasePosUdf7)
      .select(col("segment_id"), col("m.doc_id").as("doc_id"),
        col("m.norm_id").as("norm_id"), col("m.mpos").as("__mpos"))
}
