package graft.search

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.index.{FieldNorm, PostingCodec}

/** Block-max WAND top-k (`[tantivy, public]`; SURVEY.md §4.2 — the one
  * genuinely custom physical operator) and the one term-bag evaluator:
  * compute BM25 top-k while *skipping the decode* of posting blocks whose
  * score upper bound cannot beat the running k-th best.
  *
  * Routed shapes ([[eligible]]) — every `serve` shape:
  *  - term bags with must / should / must-not clauses, any
  *    `minimumShouldMatch`, and term disjunction-max, each term a `(field,
  *    term)` pair scored with its own field's N and avgdl, so mixed-field
  *    bags (`lang:en` must + `text` should) take the route too. One
  *    [[BagKernel]] evaluates a bag over one doc-aligned `(segment_id,
  *    block_id)` group: must clauses prune groups structurally (a group
  *    missing any must term's block cannot contain a hit), must-not terms
  *    are decoded for exclusion only, and dismax combines per-term scores
  *    with the per-occurrence plan's `mx + tb·(sm − mx)` arithmetic;
  *  - phrases of ≥2 terms: in a group where every term has a positional
  *    block, the doc ids are intersected and [[PostingUdfs.phraseTf]] runs on
  *    the positions; the score is `BM25(Σ idf, phrase_tf, first term's
  *    norm)`. The group's bound is the first term's `BM25(Σ idf,
  *    block_max_tf, block_min_norm)`: safe, since phrase_tf never exceeds
  *    the first term's tf and the first term's norm is the one scored.
  * `Searcher` sends a plan here unless every term sits on a raw stored
  * field, whose docs-scan fast path is cheaper than a block walk.
  *
  * Top-k ([[run]]): one job, no Exchange. The plan's live posting blocks
  * (not postings!) are collected; df is Σ `doc_count` over all of a term's
  * blocks (with or without positions), the sum every writer stores as
  * termstats `df` — deleted docs included, until a merge removes them. The
  * driver walks the groups in order with one top-k heap (per-segment
  * collect + `merge_fruits` in one pass), decoding a group only if its
  * score bound reaches the running threshold, and never offers a hit whose
  * doc is in the reader's tombstones. The hits return as a local relation,
  * so collecting them starts no job.
  *
  * Full results ([[hits]]): the same kernel runs per group inside one
  * aggregation — `postings.filter → group by (segment_id, block_id) →
  * kernel → explode`, one shuffle and no join. Both are result-identical to
  * the per-occurrence plan (pruning is a pure optimization), verified in tests.
  */
object WandTopK {

  /** A query shape the block-max route serves; `pairs` are the distinct
    * `(field, term)` pairs whose posting blocks it reads.
    */
  sealed trait Plan { def pairs: Seq[(String, String)] }

  /** A term-bag query of `(field, term)` pairs. `dismax = Some(tb)` means
    * the `should` terms combine as `mx + tb·(sm − mx)` (must/mustNot empty);
    * None means BM25 sum. A hit matches every must term, no mustNot term and
    * at least `minShould` should terms (at least one when there is no must).
    */
  final case class TermBag(
      must: Seq[(String, String)],
      should: Seq[(String, String)],
      mustNot: Seq[(String, String)],
      dismax: Option[Double],
      minShould: Int = 0) extends Plan {
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
    * many doc-aligned block groups the walk saw and how many it decoded
    * (the rest were pruned, structurally or by their score bound).
    */
  final case class Result(hits: Seq[Row], groupsSeen: Int, groupsDecoded: Int) {
    /** The hits from `offset` on as a local DataFrame: collecting it starts no job. */
    def toDF(spark: SparkSession, offset: Int = 0): DataFrame =
      spark.createDataFrame(hits.drop(offset).asJava, outSchema)
  }

  /** One kernel hit of the full-result plan. */
  final case class DocScore(doc_id: Int, score: Double)

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
    * must-clause order (left-associated, matching the per-occurrence plan's
    * `__s0 + __s1 + …`), should scores in should-clause order.
    */
  private final class Acc {
    var mustSeen = 0
    var mustScore = 0.0
    var shouldSeen = 0
    var shouldScore = 0.0
    var mx = Double.NegativeInfinity
  }

  /** A scored term's (or phrase's) idf and its field's avgdl. */
  private final case class Weight(idf: Double, avgdl: Double, fieldnorms: Boolean) {
    // same operation order as BM25.scoreCol so scores are bitwise identical
    // to the per-occurrence plan; fieldnorms off scores len = 1
    def score(tf: Double, normId: Int): Double = {
      val len = if (fieldnorms) FieldNorm.decode(normId).toDouble else 1.0
      idf * (tf * (BM25.K1 + 1)) / (tf + BM25.K1 * ((1 - BM25.B) + BM25.B * len / avgdl))
    }
  }

  /** The per-occurrence plan's weight of term `t` given its df: a field
    * without a fieldstats row scores with N = 0 and avgdl = 0.
    */
  private def weight(searcher: Searcher, df: Long, field: String): Weight = {
    val st = searcher.reader.fieldStats.getOrElse(field, FieldStat(0L, 0L))
    Weight(BM25.idf(df, st.nDocs), st.avgdl, searcher.fieldnorms)
  }

  /** The block columns both routes read, in this order. */
  private val BlockCols = Seq("field", "term", "segment_id", "block_id", "doc_count",
    "block_max_tf", "block_min_norm", "doc_ids", "tfs", "norms")
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

  private type Group = java.util.Map[(String, String), Row]

  /** One group's blocks keyed by `(field, term)`. */
  private def group(rows: Iterator[Row]): Group = {
    val byTerm = new java.util.HashMap[(String, String), Row](8)
    rows.foreach(r => byTerm.put((r.getString(Field), r.getString(Term)), r))
    byTerm
  }

  private def docIds(r: Row): Array[Int] =
    PostingCodec.unpackDocIds(r.getAs[Array[Byte]](DocIds), r.getInt(Count))

  /** The evaluator of one term bag over one `(segment_id, block_id)` group:
    * must, should (with `minShould`), mustNot and dismax, emitting each
    * matching doc's `(doc_id, score)` in doc order. `should` holds only
    * indexed terms; `weight` covers every must and should term.
    */
  private final class BagKernel(
      bag: TermBag, should: Seq[(String, String)], weight: Map[(String, String), Weight])
      extends Serializable {
    private val must = bag.must
    private val nMust = must.size

    /** Can the group hold a hit at all: every must term's block, and at
      * least `minShould` should terms' blocks.
      */
    def viable(byTerm: Group): Boolean =
      must.forall(byTerm.containsKey) &&
        (bag.minShould <= 0 || should.count(byTerm.containsKey) >= bag.minShould)

    /** An upper bound on the score of any hit in the group. */
    def bound(byTerm: Group): Double = {
      def blockUb(t: (String, String)): Double = {
        val r = byTerm.get(t)
        if (r == null) 0.0 else weight(t).score(r.getInt(MaxTf).toDouble, r.getInt(MinNorm))
      }
      bag.dismax match {
        case Some(tb) =>
          var sm = 0.0; var mx = 0.0
          should.foreach { t => val u = blockUb(t); sm += u; if (u > mx) mx = u }
          mx + tb * (sm - mx)
        case None =>
          var u = 0.0
          must.foreach(t => u += blockUb(t))
          should.foreach(t => u += blockUb(t))
          u
      }
    }

    /** Decode the (viable) group and emit every hit. */
    def eval(byTerm: Group)(emit: (Int, Double) => Unit): Unit = {
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
      // a doc enters with the first must term (with no must, any should
      // term); later terms only update docs already there
      def entry(doc: Int, first: Boolean): Acc =
        if (first) acc.computeIfAbsent(doc, _ => new Acc) else acc.get(doc)
      must.zipWithIndex.foreach { case (t, ti) =>
        decode(t) { (doc, s) =>
          val a = entry(doc, ti == 0)
          // enforce the intersection AND the left-associated sum order
          if (a != null && a.mustSeen == ti) { a.mustScore += s; a.mustSeen = ti + 1 }
        }
      }
      should.foreach { t =>
        decode(t) { (doc, s) =>
          val a = entry(doc, nMust == 0)
          if (a != null) {
            a.shouldScore += s
            a.shouldSeen += 1
            if (s > a.mx) a.mx = s
          }
        }
      }
      val excluded = new java.util.HashSet[Integer]()
      bag.mustNot.foreach(t => Option(byTerm.get(t)).foreach(r => docIds(r).foreach(excluded.add(_))))
      acc.forEach { (doc, a) =>
        if (a.mustSeen == nMust && a.shouldSeen >= bag.minShould && !excluded.contains(doc)) {
          val s = bag.dismax match {
            case Some(tb) => a.mx + tb * (a.shouldScore - a.mx)
            case None     => if (nMust == 0) a.shouldScore else a.mustScore + a.shouldScore
          }
          emit(doc, s)
        }
      }
    }
  }

  /** `bag`'s kernel given its terms' dfs, or None when it matches nothing:
    * an unindexed must term, fewer indexed should terms than `minShould`,
    * or neither a must nor an indexed should term.
    */
  private def kernel(searcher: Searcher, bag: TermBag,
                     dfs: Map[(String, String), Long]): Option[BagKernel] = {
    val should = bag.should.filter(dfs.contains)
    if (bag.must.exists(t => !dfs.contains(t)) || should.size < bag.minShould ||
        (bag.must.isEmpty && should.isEmpty)) None
    else {
      val ws = (bag.must ++ should).distinct.map(t => t -> weight(searcher, dfs(t), t._1)).toMap
      Some(new BagKernel(bag, should, ws))
    }
  }

  /** Every hit of `bag` as `(segment_id, doc_id, score)`, tombstoned docs
    * included (the caller applies deletes), or None when it matches nothing.
    * `dfs` are the termstats dfs of the bag's terms.
    */
  def hits(searcher: Searcher, bag: TermBag, dfs: Map[(String, String), Long]): Option[DataFrame] =
    kernel(searcher, bag, dfs).map { k =>
      val kernelUdf = udf { (blocks: Seq[Row]) =>
        val out = Seq.newBuilder[DocScore]
        val byTerm = group(blocks.iterator)
        if (k.viable(byTerm)) k.eval(byTerm)((doc, s) => out += DocScore(doc, s))
        out.result()
      }.withName("bag_kernel")
      val reader = searcher.reader
      reader.postings
        .filter(reader.termsFilter(bag.pairs))
        .groupBy(col("segment_id"), col("block_id"))
        .agg(collect_list(struct(BlockCols.map(col): _*)).as("blocks"))
        .select(col("segment_id"), explode(kernelUdf(col("blocks"))).as("h"))
        .select(col("segment_id"), col("h.doc_id").as("doc_id"), col("h.score").as("score"))
    }

  /** One top-k heap over the doc-aligned block groups, in group order;
    * tombstoned docs are never offered.
    */
  private final class TopK(k: Int, tombstones: Map[Int, java.util.BitSet]) {
    private val heap = new java.util.PriorityQueue[Hit](k, hitOrd.reverse) // worst on top
    private var dead = NoTombstones
    var decoded = 0

    def threshold: Double =
      if (heap.size < k) Double.NegativeInfinity else heap.peek().score

    def offer(seg: Int, doc: Int, score: Double): Unit =
      if (!dead.get(doc)) {
        val h = Hit(score, seg, doc)
        if (heap.size < k) heap.add(h)
        else if (hitOrd.lt(h, heap.peek())) { heap.poll(); heap.add(h) }
      }

    /** Visit each `(segment_id, block_id)` group with its blocks keyed by
      * `(field, term)`, then return the heap in rank order.
      */
    def walk(blocks: Array[Row])(visit: (Int, Group) => Unit): Result = {
      val sorted = blocks.sortBy(r => (r.getInt(Seg), r.getInt(Block)))
      var seen = 0
      var i = 0
      while (i < sorted.length) {
        val seg = sorted(i).getInt(Seg)
        val blockId = sorted(i).getInt(Block)
        var j = i + 1
        while (j < sorted.length && sorted(j).getInt(Seg) == seg && sorted(j).getInt(Block) == blockId)
          j += 1
        dead = tombstones.getOrElse(seg, NoTombstones)
        seen += 1
        visit(seg, group(sorted.iterator.slice(i, j)))
        i = j
      }
      val hits = heap.asScala.toSeq.sorted(hitOrd).map(h => Row(h.seg, h.doc, h.score))
      Result(hits, seen, decoded)
    }
  }

  private val NoTombstones = new java.util.BitSet(0)

  /** Block-max top-k of `plan` in one job (see the object doc). */
  def run(searcher: Searcher, plan: Plan, k: Int): Result = {
    if (k <= 0) return empty
    val reader = searcher.reader
    val phrase = plan.isInstanceOf[PhraseBag]
    // the one job: every live block of the plan's terms. Positions are not
    // filtered on: df must cover all of a term's blocks
    val blocks = reader.postings
      .filter(reader.termsFilter(plan.pairs))
      .select((BlockCols ++ (if (phrase) Seq("positions") else Nil)).map(col): _*)
      .collect()
    val dfs: Map[(String, String), Long] =
      blocks.groupMapReduce(r => (r.getString(Field), r.getString(Term)))(_.getInt(Count).toLong)(_ + _)
    val top = new TopK(k, reader.tombstones)
    plan match {
      case bag: TermBag =>
        kernel(searcher, bag, dfs).fold(empty) { kn =>
          top.walk(blocks) { (seg, byTerm) =>
            // decode on ub >= threshold: a block whose bound exactly ties the
            // kth score may hold a doc that wins the (segment, doc) tiebreak —
            // prune only on strict inferiority to stay result-identical
            if (kn.viable(byTerm) && kn.bound(byTerm) >= top.threshold) {
              top.decoded += 1
              kn.eval(byTerm)(top.offer(seg, _, _))
            }
          }
        }
      case ph: PhraseBag => phraseTopK(searcher, ph, blocks, dfs, top)
    }
  }

  private def phraseTopK(searcher: Searcher, ph: PhraseBag, blocks: Array[Row],
                         dfs: Map[(String, String), Long], top: TopK): Result = {
    val PhraseBag(field, terms, offsets, slop) = ph
    val keys = terms.map((field, _))
    // an unindexed term: no doc holds the phrase
    if (keys.exists(t => !dfs.contains(t))) return empty
    // Σ idf in term order (Lucene/tantivy phrase weight), as the per-occurrence plan
    val ws = keys.map(t => weight(searcher, dfs(t), field))
    val w = ws.head.copy(idf = ws.map(_.idf).sum)
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
            if (ptf > 0) top.offer(seg, doc, w.score(ptf.toDouble, norms0(i0) & 0xFF))
          }
        }
      }
    }
  }

  /** Recognize a block-max-eligible query: a single term or a one-term
    * phrase; a term-bag boolean with a must or a should term, any
    * minimumShouldMatch; a term dismax with tieBreaker in [0, 1]; or a
    * phrase of ≥2 terms. Terms may sit on different fields. Duplicate terms
    * within one occur group fall back to the per-occurrence plan (it sums
    * the duplicate clause twice; the kernel scores each term once per group).
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
      val distinctOk = must.distinct.size == must.size &&
        should.distinct.size == should.size && mustNot.distinct.size == mustNot.size
      // the per-occurrence plan applies msm only when there are should clauses
      val minShould = if (should.isEmpty) 0 else math.max(msm.getOrElse(0), 0)
      if (termClauses.size == clauses.size && distinctOk && (must.nonEmpty || should.nonEmpty))
        Some(TermBag(must, should, mustNot, None, minShould))
      else None
    case DisjunctionMaxQuery(ds, tb) if tb >= 0.0 && tb <= 1.0 =>
      val terms = ds.collect { case TermQuery(f, t) => (f, t) }
      if (terms.size == ds.size && terms.nonEmpty && terms.distinct.size == terms.size)
        Some(TermBag(Nil, terms, Nil, Some(tb)))
      else None
    case _ => None
  }
}
