package graft.search

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType}

import graft.index.PostingCodec

/** The tests' per-occurrence oracle: every scored query planned without the
  * block kernel. A term explodes its posting blocks into one row per
  * occurrence, a phrase joins its terms' positional blocks on `(segment_id,
  * block_id)` ([[BlockJoin]]), and booleans, dismax (any tieBreaker) and
  * boosts combine the clause plans with joins and aggregations on
  * `(segment_id, doc_id)` — the per-clause plan `src/main` no longer has.
  * A bare docs-table leaf (range, exists, all, empty, regex, term-range)
  * plans through [[Searcher.plan]], whose bare-leaf plans run no kernel.
  * [[details]] is the per-leaf explain scan the kernel's explain replaced.
  */
object PerOccurrence {
  final case class PEntry(doc_id: Int, tf: Int, norm_id: Int)

  val unpack: UserDefinedFunction =
    udf((docIds: Array[Byte], tfs: Array[Byte], norms: Array[Byte], n: Int) => {
      val ids = PostingCodec.unpackDocIds(docIds, n)
      val tf = PostingCodec.unpackVarInts(tfs, n)
      Array.tabulate(n)(i => PEntry(ids(i), tf(i), norms(i) & 0xFF))
    })

  private val keys = Seq("segment_id", "doc_id")

  private def terms(q: Query): Seq[(String, String)] = q match {
    case TermQuery(f, v)            => Seq((f, v))
    case PhraseQuery(f, ts, _)      => ts.map { case (_, t) => (f, t) }
    case BooleanQuery(cs, _)        => cs.flatMap { case (_, c) => terms(c) }
    case BoostQuery(c, _)           => terms(c)
    case DisjunctionMaxQuery(ds, _) => ds.flatMap(terms)
    case _                          => Nil
  }

  /** `q`'s scored doc set, tombstoned docs removed. */
  def search(s: Searcher, q: Query): DataFrame = {
    val rq = s.resolve(q)
    s.reader.applyDeletes(plan(s, rq, s.reader.termDfs(terms(rq).distinct)))
  }

  private def avgdl(s: Searcher, field: String): Double =
    s.reader.fieldStats.get(field).map(_.avgdl).getOrElse(0.0)
  private def idf(s: Searcher, df: Long, field: String): Double =
    BM25.idf(df, s.reader.fieldStats.get(field).map(_.nDocs).getOrElse(0L))

  private def emptyHits(s: Searcher): DataFrame = s.plan(EmptyQuery, Map.empty)

  def plan(s: Searcher, q: Query, dfs: Map[(String, String), Long]): DataFrame = q match {
    case TermQuery(f, t)                => termHits(s, f, t, dfs)
    case PhraseQuery(f, Seq((_, t)), _) => termHits(s, f, t, dfs)
    case pq @ PhraseQuery(_, ts, _) if ts.size >= 2 => phraseHits(s, pq, dfs)
    case bq: BooleanQuery               => boolHits(s, bq, dfs)
    case BoostQuery(c, b)               => plan(s, c, dfs).withColumn("score", col("score") * lit(b))
    case DisjunctionMaxQuery(ds, tb) =>
      if (ds.isEmpty) emptyHits(s)
      else
        ds.map(plan(s, _, dfs))
          .reduce(_ unionByName _)
          .groupBy(keys.map(col): _*)
          .agg(max("score").as("__mx"), sum("score").as("__sm"))
          .select(
            col("segment_id"), col("doc_id"),
            (col("__mx") + lit(tb) * (col("__sm") - col("__mx"))).as("score"))
    case other => s.plan(other, dfs)
  }

  /** One term's postings exploded per occurrence and scored. */
  private def termHits(s: Searcher, field: String, term: String, dfs: Map[(String, String), Long]): DataFrame = {
    val df = dfs.getOrElse((field, term), 0L)
    if (df == 0L) return emptyHits(s)
    s.reader.postings
      .filter(col("field") === field && col("term") === term)
      .select(col("segment_id"), explode(unpack(col("doc_ids"), col("tfs"), col("norms"), col("doc_count"))).as("p"))
      .select(
        col("segment_id"),
        col("p.doc_id").as("doc_id"),
        BM25.scoreCol(col("p.tf"), col("p.norm_id"), idf(s, df, field), avgdl(s, field), s.fieldnorms).as("score"))
  }

  /** Phrase candidates via the block join; the score is [[BM25.scoreCol]]
    * over the phrase tf, the first term's norm and Σ idf.
    */
  private def phraseHits(s: Searcher, pq: PhraseQuery, dfs: Map[(String, String), Long]): DataFrame = {
    val PhraseQuery(field, terms, slop) = pq
    if (terms.exists { case (_, t) => dfs.getOrElse((field, t), 0L) == 0L }) return emptyHits(s)
    val sumIdf = terms.map { case (_, t) => idf(s, dfs((field, t)), field) }.sum
    BlockJoin.phraseMatches(s.reader, field, terms.map(_._2), terms.map(_._1), slop)
      .select(
        col("segment_id"),
        col("doc_id"),
        BM25.scoreCol(col("phrase_tf"), col("norm_id"), sumIdf, avgdl(s, field), s.fieldnorms).as("score"))
  }

  /** Each clause planned on its own, joined and aggregated on `(segment_id, doc_id)`. */
  private def boolHits(s: Searcher, bq: BooleanQuery, dfs: Map[(String, String), Long]): DataFrame = {
    val shouldAgg = if (bq.should.isEmpty) None else Some(
      bq.should.map(plan(s, _, dfs))
        .reduce(_ unionByName _)
        .groupBy(keys.map(col): _*)
        .agg(sum("score").as("score"), count(lit(1)).as("should_matched")))
    val base =
      if (bq.must.nonEmpty) {
        val mustDfs = bq.must.map(plan(s, _, dfs))
        val withMust = mustDfs.zipWithIndex
          .map { case (d, i) => d.withColumnRenamed("score", s"__s$i") }
          .reduce((a, b) => a.join(b, keys, "inner"))
          .select(col("segment_id"), col("doc_id"),
            mustDfs.indices.map(i => col(s"__s$i")).reduce(_ + _).as("score"))
        shouldAgg.fold(withMust) { sa =>
          val minMatch = bq.minimumShouldMatch.getOrElse(0)
          val j = withMust.join(
            sa.select(col("segment_id"), col("doc_id"), col("score").as("__ss"), col("should_matched")),
            keys, "left")
          (if (minMatch > 0) j.filter(coalesce(col("should_matched"), lit(0L)) >= minMatch) else j)
            .select(col("segment_id"), col("doc_id"), (col("score") + coalesce(col("__ss"), lit(0.0))).as("score"))
        }
      } else shouldAgg.fold(emptyHits(s)) { sa =>
        sa.filter(col("should_matched") >= math.max(bq.minimumShouldMatch.getOrElse(1), 1))
          .select(col("segment_id"), col("doc_id"), col("score"))
      }
    if (bq.mustNot.isEmpty) base
    else base.join(bq.mustNot.map(plan(s, _, dfs)).reduce(_ unionByName _).select(keys.map(col): _*).distinct(),
      keys, "left_anti")
  }

  /** Every scoring leaf of `q` with its cumulative boost: a term, or a phrase
    * of ≥2 terms kept whole; mustNot branches never score.
    */
  private def leaves(q: Query, boost: Double): Seq[(Query, Double)] = q match {
    case TermQuery(f, v)                => Seq((TermQuery(f, v), boost))
    case PhraseQuery(f, Seq((_, t)), _) => Seq((TermQuery(f, t), boost))
    case pq: PhraseQuery                => Seq((pq, boost))
    case BooleanQuery(cs, _) => cs.collect { case (o, c) if o != Occur.MustNot => leaves(c, boost) }.flatten
    case BoostQuery(c, b)           => leaves(c, boost * b)
    case DisjunctionMaxQuery(ds, _) => ds.flatMap(leaves(_, boost))
    case _                          => Nil
  }

  /** The per-leaf explain scan: for every distinct scoring leaf of `q`, one
    * row per doc holding it — `(segment_id, doc_id, field, term, kind, tf,
    * norm_id, idf, boost, contribution, positions)` — whether or not its
    * clause scored that doc.
    */
  def details(s: Searcher, q: Query): DataFrame = {
    val rq = s.resolve(q)
    val dfs = s.reader.termDfs(terms(rq).distinct)
    leaves(rq, 1.0).distinct.flatMap {
      case (TermQuery(f, t), b)   => termDetail(s, f, t, b, dfs)
      case (pq: PhraseQuery, b)   => phraseDetail(s, pq, b, dfs)
      case _                      => None
    }.reduce(_ unionByName _)
  }

  private def termDetail(s: Searcher, field: String, term: String, boost: Double,
                         dfs: Map[(String, String), Long]): Option[DataFrame] = {
    val df = dfs.getOrElse((field, term), 0L)
    if (df == 0L) return None
    val i = idf(s, df, field)
    Some(s.reader.postings
      .filter(col("field") === field && col("term") === term)
      .select(col("segment_id"),
        explode(unpack(col("doc_ids"), col("tfs"), col("norms"), col("doc_count"))).as("p"))
      .select(
        col("segment_id"), col("p.doc_id").as("doc_id"),
        lit(field).as("field"), lit(term).as("term"), lit("term").as("kind"),
        col("p.tf").as("tf"), col("p.norm_id").as("norm_id"),
        lit(i).as("idf"), lit(boost).as("boost"),
        (BM25.scoreCol(col("p.tf"), col("p.norm_id"), i, avgdl(s, field), s.fieldnorms) *
          lit(boost)).as("contribution"),
        lit(null).cast(ArrayType(IntegerType)).as("positions")))
  }

  private def phraseDetail(s: Searcher, pq: PhraseQuery, boost: Double,
                           dfs: Map[(String, String), Long]): Option[DataFrame] = {
    val PhraseQuery(field, terms, slop) = pq
    if (terms.exists { case (_, t) => dfs.getOrElse((field, t), 0L) == 0L }) return None
    val sumIdf = terms.map { case (_, t) => idf(s, dfs((field, t)), field) }.sum
    val phraseText = terms.map(_._2).mkString("\"", " ", "\"") + (if (slop > 0) s"~$slop" else "")
    Some(BlockJoin.phraseDetailMatches(s.reader, field, terms.map(_._2), terms.map(_._1), slop)
      .select(
        col("segment_id"), col("doc_id"),
        lit(field).as("field"), lit(phraseText).as("term"), lit("phrase").as("kind"),
        size(col("__mpos")).as("tf"), col("norm_id").as("norm_id"),
        lit(sumIdf).as("idf"), lit(boost).as("boost"),
        (BM25.scoreCol(size(col("__mpos")), col("norm_id"), sumIdf, avgdl(s, field), s.fieldnorms) *
          lit(boost)).as("contribution"),
        col("__mpos").as("positions")))
  }
}

/** Block-aligned phrase plans: the terms' PACKED positional block rows join
  * on `(segment_id, block_id)` and the doc lists intersect inside each
  * matched block. A doc holding all terms sits in the same `block_id =
  * doc_id >>> blockBits` in every term's postings, so the join loses no
  * match, and the postings table holds one row per (segment, field, term,
  * block), so it duplicates none.
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
