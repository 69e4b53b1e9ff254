package graft.search

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.index.PostingCodec

/** Block-aligned conjunction plans (optimization guide §2.3 "shuffle fewer
  * bytes" / §3.3 "explode before a join multiplies the shuffle"): instead of
  * exploding each term's posting blocks into per-occurrence `(segment_id,
  * doc_id, …)` rows and sort-merge-joining those, join the PACKED block rows
  * on `(segment_id, block_id)` — one row per (term, block) instead of up to
  * `blockSpan` (1024) rows — and intersect the doc lists inside the matched
  * block with a streaming cursor walk. The join then shuffles ~128–1024×
  * fewer rows for the same result, which is the difference between a
  * conjunction of two mid-df terms shuffling 10⁸ per-occurrence rows at
  * 100× scale and shuffling 10⁵ block rows.
  *
  * Result identity: a doc containing all terms occupies the same
  * `block_id = doc_id >>> blockBits` in every term's postings, so the block
  * join loses no matches; the per-term `(tf, norm_id)` ints surface exactly
  * as the exploded plan produced them, and the caller applies the SAME
  * [[BM25.scoreCol]] column expressions over them, so scores are bitwise
  * identical (pinned by SearchSpec / the sf0.01+sf0.1 oracle sweeps).
  * The postings table holds exactly one row per (segment, field, term,
  * block) — the build's fragment merge guarantees it — so the equi-join is
  * 1:1 per term and can never duplicate matches.
  */
object BlockJoin {

  /** One conjunction match: per-term tf / norm in clause order. */
  final case class MustMatch(doc_id: Int, tfs: Seq[Int], norms: Seq[Int])

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

  /** Intersect k packed doc-id lists of one (segment, block); emit the
    * per-term (tf, norm) ints of every doc present in all k lists.
    */
  val intersectUdf: UserDefinedFunction =
    udf((ds: Seq[Array[Byte]], ts: Seq[Array[Byte]], ms: Seq[Array[Byte]], ns: Seq[Int]) => {
      val k = ns.length
      val ids = Array.tabulate(k)(i => PostingCodec.unpackDocIds(ds(i), ns(i)))
      val tfs = Array.tabulate(k)(i => PostingCodec.unpackVarInts(ts(i), ns(i)))
      val out = Seq.newBuilder[MustMatch]
      intersect(ids) { (i0, cursor) =>
        out += MustMatch(ids(0)(i0), IndexedSeq.tabulate(k)(j => tfs(j)(cursor(j))),
          IndexedSeq.tabulate(k)(j => ms(j)(cursor(j)) & 0xFF))
      }
      out.result()
    })

  /** Intersect k positional posting blocks of one (segment, block) and run
    * the phrase alignment ([[PostingUdfs.phraseTf]], the same function the
    * exploded plan applied) over each doc present in all k lists. Emits
    * (doc_id, phrase_tf, first-term norm — `m0` is the first term's norms
    * blob) for docs with ≥1 alignment — exactly the rows the exploded plan's
    * join + filter produced.
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

  /** [[phraseUdf7]] variant for the per-hit explain path: emits the matched
    * alignment positions instead of just their count — the same
    * [[PostingUdfs.phraseMatchPositions]] the exploded detail plan applied.
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

  /** Block rows of one term, columns suffixed by clause index. */
  private def termBlocks(reader: IndexReader, field: String, term: String, i: Int,
                         withPositions: Boolean): DataFrame = {
    val base = reader.postings.filter(col("field") === field && col("term") === term)
    val filtered = if (withPositions) base.filter(col("positions").isNotNull) else base
    val cols = Seq(
      col("segment_id"), col("block_id"),
      col("doc_count").as(s"__n$i"), col("doc_ids").as(s"__d$i"),
      col("tfs").as(s"__t$i"), col("norms").as(s"__m$i")) ++
      (if (withPositions) Seq(col("positions").as(s"__p$i")) else Nil)
    filtered.select(cols: _*)
  }

  /** Conjunction of ≥2 posting-backed terms via the block join. Returns
    * `(segment_id, doc_id, tfs, norms)` with per-term ints in clause order —
    * the caller scores them with the same column expressions as the exploded
    * plan, so the result is bitwise identical.
    */
  def mustTerms(reader: IndexReader, terms: Seq[(String, String)]): DataFrame = {
    require(terms.size >= 2)
    val n = terms.size
    val joined = terms.zipWithIndex
      .map { case ((f, t), i) => termBlocks(reader, f, t, i, withPositions = false) }
      .reduce((a, b) => a.join(b, Seq("segment_id", "block_id"), "inner"))
    joined
      .select(col("segment_id"), explode(intersectUdf(
        array((0 until n).map(i => col(s"__d$i")): _*),
        array((0 until n).map(i => col(s"__t$i")): _*),
        array((0 until n).map(i => col(s"__m$i")): _*),
        array((0 until n).map(i => col(s"__n$i")): _*))).as("m"))
      .select(col("segment_id"), col("m.doc_id").as("doc_id"),
        col("m.tfs").as("tfs"), col("m.norms").as("norms"))
  }

  /** Phrase candidates of ≥2 terms via the block join. Returns
    * `(segment_id, doc_id, phrase_tf, norm_id)` for docs with ≥1 alignment,
    * identical to the exploded positional join + [[PostingUdfs.phraseTfUdf]]
    * filter (same alignment function, same first-term norm).
    */
  def phraseMatches(reader: IndexReader, field: String, terms: Seq[String],
                    offsets: Seq[Int], slop: Int): DataFrame = {
    require(terms.size >= 2)
    val n = terms.size
    val joined = terms.zipWithIndex
      .map { case (t, i) => termBlocks(reader, field, t, i, withPositions = true) }
      .reduce((a, b) => a.join(b, Seq("segment_id", "block_id"), "inner"))
    joined
      .select(col("segment_id"), explode(phraseUdf7(
        array((0 until n).map(i => col(s"__d$i")): _*),
        array((0 until n).map(i => col(s"__t$i")): _*),
        array((0 until n).map(i => col(s"__p$i")): _*),
        col("__m0"),
        array((0 until n).map(i => col(s"__n$i")): _*),
        typedLit(offsets), lit(slop))).as("m"))
      .select(col("segment_id"), col("m.doc_id").as("doc_id"),
        col("m.tf").as("phrase_tf"), col("m.norm_id").as("norm_id"))
  }

  /** Phrase-explain candidates of ≥2 terms via the block join: returns
    * `(segment_id, doc_id, norm_id, __mpos)` for docs with ≥1 alignment —
    * identical to the exploded positional join + phraseMatchPositionsUdf
    * filter (same alignment function, same first-term norm).
    */
  def phraseDetailMatches(reader: IndexReader, field: String, terms: Seq[String],
                          offsets: Seq[Int], slop: Int): DataFrame = {
    require(terms.size >= 2)
    val n = terms.size
    val joined = terms.zipWithIndex
      .map { case (t, i) => termBlocks(reader, field, t, i, withPositions = true) }
      .reduce((a, b) => a.join(b, Seq("segment_id", "block_id"), "inner"))
    joined
      .select(col("segment_id"), explode(phrasePosUdf7(
        array((0 until n).map(i => col(s"__d$i")): _*),
        array((0 until n).map(i => col(s"__t$i")): _*),
        array((0 until n).map(i => col(s"__p$i")): _*),
        col("__m0"),
        array((0 until n).map(i => col(s"__n$i")): _*),
        typedLit(offsets), lit(slop))).as("m"))
      .select(col("segment_id"), col("m.doc_id").as("doc_id"),
        col("m.norm_id").as("norm_id"), col("m.mpos").as("__mpos"))
  }
}
