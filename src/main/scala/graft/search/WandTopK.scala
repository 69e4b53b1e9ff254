package graft.search

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.index.{FieldNorm, PostingCodec}

/** Block-max WAND top-k (`[tantivy, public]`; SURVEY.md §4.2 — the one
  * genuinely custom physical operator): compute BM25 top-k while *skipping
  * the decode* of posting blocks whose score upper bound cannot beat the
  * running k-th best.
  *
  * Routed shapes ([[eligible]]) — every `serve` shape:
  *  - term bags with must / should / must-not clauses and term
  *    disjunction-max, each term a `(field, term)` pair scored with its own
  *    field's N and avgdl, so mixed-field bags (`lang:en` must + `text`
  *    should) take the route too. Must clauses prune groups structurally (a
  *    group missing any must term's block cannot contain a hit), must-not
  *    terms are decoded for exclusion only, and dismax combines per-term
  *    scores with the exhaustive plan's `mx + tb·(sm − mx)` arithmetic;
  *  - phrases of ≥2 terms: in a group where every term has a positional
  *    block, the doc ids are intersected and [[PostingUdfs.phraseTf]] runs on
  *    the positions; the score is `BM25(Σ idf, phrase_tf, first term's
  *    norm)`. The group's bound is the first term's `BM25(Σ idf,
  *    block_max_tf, block_min_norm)`: safe, since phrase_tf never exceeds
  *    the first term's tf and the first term's norm is the one scored.
  * `Searcher.topDocs` sends a plan here unless every term sits on a raw
  * stored field, whose docs-scan fast path is cheaper than a block walk.
  *
  * Distributed shape: one job, no Exchange. The plan's live posting blocks
  * (not postings!) are collected; df is Σ `doc_count` over all of a term's
  * blocks (with or without positions), the sum every writer stores as
  * termstats `df`. The driver walks the doc-aligned `(segment_id, block_id)`
  * groups in order with one top-k heap (per-segment collect +
  * `merge_fruits` in one pass), decoding a group only if its score bound
  * reaches the running threshold. The hits return as a local relation, so
  * collecting them starts no job. The result is identical to the exhaustive
  * plan (pruning is a pure optimization), verified in tests.
  */
object WandTopK {

  /** A query shape the block-max route serves; `pairs` are the distinct
    * `(field, term)` pairs whose posting blocks its one job collects.
    */
  sealed trait Plan { def pairs: Seq[(String, String)] }

  /** A term-bag query of `(field, term)` pairs. `dismax = Some(tb)` means
    * the `should` terms combine as `mx + tb·(sm − mx)` (must/mustNot empty);
    * None means BM25 sum.
    */
  final case class TermBag(
      must: Seq[(String, String)],
      should: Seq[(String, String)],
      mustNot: Seq[(String, String)],
      dismax: Option[Double]) extends Plan {
    def pairs: Seq[(String, String)] = (must ++ should ++ mustNot).distinct
  }

  object TermBag {
    /** A bag whose terms all sit on `field`. */
    def apply(field: String, must: Seq[String], should: Seq[String], mustNot: Seq[String],
              dismax: Option[Double]): TermBag =
      TermBag(must.map((field, _)), should.map((field, _)), mustNot.map((field, _)), dismax)
  }

  /** A phrase of ≥2 terms on `field`, term i at position offset `offsets(i)`. */
  final case class PhraseBag(field: String, terms: Seq[String], offsets: Seq[Int], slop: Int)
      extends Plan {
    def pairs: Seq[(String, String)] = terms.distinct.map((field, _))
  }

  /** The k best `(segment_id, doc_id, score)` rows in rank order, and how
    * many doc-aligned block groups the kernel saw and how many it decoded
    * (the rest were pruned, structurally or by their score bound).
    */
  final case class Result(hits: Seq[Row], groupsSeen: Int, groupsDecoded: Int) {
    /** The hits from `offset` on as a local DataFrame: collecting it starts no job. */
    def toDF(spark: SparkSession, offset: Int = 0): DataFrame =
      spark.createDataFrame(hits.drop(offset).asJava, outSchema)
  }

  private val empty = Result(Nil, 0, 0)

  private val outSchema = StructType(Seq(
    StructField("segment_id", IntegerType, false),
    StructField("doc_id", IntegerType, false),
    StructField("score", DoubleType, false)))

  /** Candidate hit ordered by (score desc, segment asc, doc asc). */
  private final case class Hit(score: Double, seg: Int, doc: Int)
  private val hitOrd: Ordering[Hit] =
    Ordering.by((h: Hit) => (-h.score, h.seg, h.doc))

  /** Per-doc accumulator inside one block group. Must scores accumulate in
    * must-clause order (left-associated, matching the exhaustive plan's
    * `__s0 + __s1 + …`), should scores in should-clause order.
    */
  private final class Acc {
    var mustSeen = 0
    var mustScore = 0.0
    var shouldScore = 0.0
    var mx = 0.0
  }

  /** A scored term's (or phrase's) idf and its field's avgdl. */
  private final case class Weight(idf: Double, avgdl: Double) {
    // same operation order as BM25.scoreCol so scores are bitwise identical
    // to the exhaustive plan
    def score(tf: Double, normId: Int): Double = {
      val len = FieldNorm.decode(normId).toDouble
      idf * (tf * (BM25.K1 + 1)) / (tf + BM25.K1 * ((1 - BM25.B) + BM25.B * len / avgdl))
    }
  }

  // column indices of the collected block rows
  private val Field = 0
  private val Term = 1
  private val Seg = 2
  private val Block = 3
  private val Count = 4
  private val MaxTf = 5
  private val MinNorm = 6
  private val DocIds = 7
  private val Tfs = 8
  private val Norms = 9
  private val Positions = 10

  /** One top-k heap over the doc-aligned block groups, in group order. */
  private final class TopK(k: Int) {
    private val heap = new java.util.PriorityQueue[Hit](k, hitOrd.reverse) // worst on top
    var decoded = 0

    def threshold: Double =
      if (heap.size < k) Double.NegativeInfinity else heap.peek().score

    def offer(h: Hit): Unit = {
      if (heap.size < k) heap.add(h)
      else if (hitOrd.lt(h, heap.peek())) { heap.poll(); heap.add(h) }
    }

    /** Visit each `(segment_id, block_id)` group with its blocks keyed by
      * `(field, term)`, then return the heap in rank order.
      */
    def walk(blocks: Array[Row])(visit: (Int, java.util.Map[(String, String), Row]) => Unit): Result = {
      var seen = 0
      val it = blocks.sortBy(r => (r.getInt(Seg), r.getInt(Block))).iterator.buffered
      while (it.hasNext) {
        val seg = it.head.getInt(Seg)
        val blockId = it.head.getInt(Block)
        val byTerm = new java.util.HashMap[(String, String), Row](8)
        while (it.hasNext && it.head.getInt(Seg) == seg && it.head.getInt(Block) == blockId) {
          val r = it.next()
          byTerm.put((r.getString(Field), r.getString(Term)), r)
        }
        seen += 1
        visit(seg, byTerm)
      }
      val hits = heap.asScala.toSeq.sorted(hitOrd).map(h => Row(h.seg, h.doc, h.score))
      Result(hits, seen, decoded)
    }
  }

  /** Backwards-compatible entry: a should-only bag of terms. */
  def topK(searcher: Searcher, field: String, terms: Seq[String], k: Int): DataFrame =
    topK(searcher, TermBag(field, Nil, terms, Nil, None), k)

  def topK(searcher: Searcher, plan: Plan, k: Int): DataFrame =
    run(searcher, plan, k).toDF(searcher.reader.spark)

  /** Block-max top-k of `plan` in one job (see the object doc). */
  def run(searcher: Searcher, plan: Plan, k: Int): Result = {
    val reader = searcher.reader
    require(reader.deletes.isEmpty,
      "WAND path requires a tombstone-free index (merge first), else use the exhaustive plan")
    if (k <= 0) return empty
    val phrase = plan.isInstanceOf[PhraseBag]

    // the one job: every live block of the plan's terms. Positions are not
    // filtered on: df must cover all of a term's blocks
    val blocks = reader.postings
      .filter(reader.termsFilter(plan.pairs))
      .select((Seq("field", "term", "segment_id", "block_id", "doc_count", "block_max_tf",
        "block_min_norm", "doc_ids", "tfs", "norms") ++
        (if (phrase) Seq("positions") else Nil)).map(col): _*)
      .collect()
    val dfs: Map[(String, String), Long] =
      blocks.groupMapReduce(r => (r.getString(Field), r.getString(Term)))(_.getInt(Count).toLong)(_ + _)
    // the exhaustive plan's stats per term field: a field without a
    // fieldstats row scores with N = 0 and avgdl = 0
    def weight(t: (String, String)): Weight = {
      val st = reader.fieldStats.getOrElse(t._1, FieldStat(0L, 0L))
      Weight(BM25.idf(dfs(t), st.nDocs), st.avgdl)
    }

    val top = new TopK(k)
    plan match {
      case bag: TermBag => bagTopK(bag, blocks, dfs, weight, top)
      case ph: PhraseBag => phraseTopK(ph, blocks, dfs, weight, top)
    }
  }

  private def bagTopK(bag: TermBag, blocks: Array[Row], dfs: Map[(String, String), Long],
                      termWeight: ((String, String)) => Weight, top: TopK): Result = {
    // an unindexed must term makes the conjunction empty
    if (bag.must.exists(t => !dfs.contains(t))) return empty
    val mustT = bag.must
    val shouldT = bag.should.filter(dfs.contains)
    val notT = bag.mustNot
    if (mustT.isEmpty && shouldT.isEmpty) return empty
    val weight = (mustT ++ shouldT).distinct.map(t => t -> termWeight(t)).toMap
    val dismaxTb = bag.dismax
    val nMust = mustT.size

    def docIds(r: Row): Array[Int] = PostingCodec.unpackDocIds(r.getAs[Array[Byte]](DocIds), r.getInt(Count))

    top.walk(blocks) { (seg, byTerm) =>
      // structural prune: a group missing any must term's block holds no hit
      if (mustT.forall(byTerm.containsKey)) {
        def blockUb(t: (String, String)): Double = {
          val r = byTerm.get(t)
          if (r == null) 0.0 else weight(t).score(r.getInt(MaxTf).toDouble, r.getInt(MinNorm))
        }
        val ub = dismaxTb match {
          case Some(tb) =>
            var sm = 0.0; var mx = 0.0
            shouldT.foreach { t => val u = blockUb(t); sm += u; if (u > mx) mx = u }
            mx + tb * (sm - mx)
          case None =>
            var u = 0.0
            mustT.foreach(t => u += blockUb(t))
            shouldT.foreach(t => u += blockUb(t))
            u
        }
        // decode on ub >= threshold: a block whose bound exactly ties the
        // kth score may hold a doc that wins the (segment, doc) tiebreak —
        // prune only on strict inferiority to stay result-identical
        if (ub >= top.threshold) {
          top.decoded += 1
          val acc = new java.util.TreeMap[Integer, Acc]()
          def decode(t: (String, String))(f: (Int, Double) => Unit): Unit = {
            val r = byTerm.get(t)
            if (r != null) {
              val cnt = r.getInt(Count)
              val ids = docIds(r)
              val tfs = PostingCodec.unpackVarInts(r.getAs[Array[Byte]](Tfs), cnt)
              val norms = r.getAs[Array[Byte]](Norms)
              val w = weight(t)
              var i = 0
              while (i < cnt) {
                f(ids(i), w.score(tfs(i).toDouble, norms(i) & 0xFF))
                i += 1
              }
            }
          }
          mustT.zipWithIndex.foreach { case (t, ti) =>
            decode(t) { (doc, s) =>
              val a = acc.computeIfAbsent(doc, _ => new Acc)
              // enforce the intersection AND the left-associated sum order:
              // a doc missing an earlier must term stops accumulating
              if (a.mustSeen == ti) { a.mustScore += s; a.mustSeen = ti + 1 }
            }
          }
          shouldT.foreach { t =>
            decode(t) { (doc, s) =>
              val a = acc.computeIfAbsent(doc, _ => new Acc)
              a.shouldScore += s
              if (s > a.mx) a.mx = s
            }
          }
          val excluded = new java.util.HashSet[Integer]()
          notT.foreach(t => Option(byTerm.get(t)).foreach(r => docIds(r).foreach(excluded.add(_))))
          acc.forEach { (doc, a) =>
            if (a.mustSeen == nMust && !excluded.contains(doc)) {
              val s = dismaxTb match {
                case Some(tb) => a.mx + tb * (a.shouldScore - a.mx)
                case None =>
                  if (nMust == 0) a.shouldScore else a.mustScore + a.shouldScore
              }
              top.offer(Hit(s, seg, doc))
            }
          }
        }
      }
    }
  }

  private def phraseTopK(ph: PhraseBag, blocks: Array[Row], dfs: Map[(String, String), Long],
                         termWeight: ((String, String)) => Weight, top: TopK): Result = {
    val PhraseBag(field, terms, offsets, slop) = ph
    val keys = terms.map((field, _))
    // an unindexed term: no doc holds the phrase
    if (keys.exists(t => !dfs.contains(t))) return empty
    // Σ idf in term order (Lucene/tantivy phrase weight), as the exhaustive plan
    val ws = keys.map(termWeight)
    val w = Weight(ws.map(_.idf).sum, ws.head.avgdl)
    top.walk(blocks) { (seg, byTerm) =>
      val rows = keys.map(byTerm.get)
      if (rows.forall(r => r != null && !r.isNullAt(Positions))) {
        val r0 = rows.head
        if (w.score(r0.getInt(MaxTf).toDouble, r0.getInt(MinNorm)) >= top.threshold) {
          top.decoded += 1
          val norms0 = r0.getAs[Array[Byte]](Norms)
          BlockJoin.phraseDocs(rows.map(_.getAs[Array[Byte]](DocIds)), rows.map(_.getAs[Array[Byte]](Tfs)),
              rows.map(_.getAs[Array[Byte]](Positions)), rows.map(_.getInt(Count))) { (doc, i0, pos) =>
            val ptf = PostingUdfs.phraseTf(pos, offsets, slop)
            if (ptf > 0) top.offer(Hit(w.score(ptf.toDouble, norms0(i0) & 0xFF), seg, doc))
          }
        }
      }
    }
  }

  /** Recognize a block-max-eligible query: a single term or a one-term
    * phrase; a term-bag boolean (should-only with msm ≤ 1, or
    * must/should/must-not with no msm); a term dismax with tieBreaker in
    * [0, 1]; or a phrase of ≥2 terms. Terms may sit on different fields.
    * Duplicate terms within one occur group fall back to the exhaustive
    * plan (it sums the duplicate clause twice; the weight map here scores
    * each term once per group).
    */
  def eligible(q: Query): Option[Plan] = q match {
    case TermQuery(f, t) => Some(TermBag(Nil, Seq((f, t)), Nil, None))
    case PhraseQuery(f, Seq((_, t)), _) => Some(TermBag(Nil, Seq((f, t)), Nil, None))
    case PhraseQuery(f, ts, slop) if ts.size >= 2 =>
      Some(PhraseBag(f, ts.map(_._2), ts.map(_._1), slop))
    case BooleanQuery(clauses, msm) =>
      val termClauses = clauses.collect { case (o, TermQuery(f, t)) => (o, (f, t)) }
      def occur(o: Occur) = termClauses.collect { case (`o`, t) => t }
      val must = occur(Occur.Must)
      val should = occur(Occur.Should)
      val mustNot = occur(Occur.MustNot)
      val msmOk = if (must.nonEmpty) msm.forall(_ <= 0) else msm.forall(_ <= 1)
      val distinctOk = must.distinct.size == must.size &&
        should.distinct.size == should.size && mustNot.distinct.size == mustNot.size
      if (termClauses.size == clauses.size && msmOk && distinctOk && (must.nonEmpty || should.nonEmpty))
        Some(TermBag(must, should, mustNot, None))
      else None
    case DisjunctionMaxQuery(ds, tb) if tb >= 0.0 && tb <= 1.0 =>
      val terms = ds.collect { case TermQuery(f, t) => (f, t) }
      if (terms.size == ds.size && terms.nonEmpty && terms.distinct.size == terms.size)
        Some(TermBag(Nil, terms, Nil, Some(tb)))
      else None
    case _ => None
  }
}
