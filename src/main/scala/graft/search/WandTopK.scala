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
  * Since r6 the routed shapes cover the reference's Block-WAND generality
  * (SURVEY §2.6), not just should-only bags: same-field term-bag booleans
  * with must / should / must-not clauses, and term disjunction-max — the
  * must clauses prune groups structurally (a group missing any must term's
  * block cannot contain a hit), must-not terms are decoded for exclusion
  * only, and dismax combines per-term scores with the exhaustive plan's
  * `mx + tb·(sm − mx)` arithmetic.
  *
  * Distributed shape: one job, no Exchange. The bag's live posting blocks
  * (not postings!) are collected; df is Σ `doc_count` over them, the sum
  * every writer stores as termstats `df`. The driver walks the doc-aligned
  * `(segment_id, block_id)` groups in order with one top-k heap (per-segment
  * collect + `merge_fruits` in one pass), decoding a group only if
  * `Σ_t idf_t · tf_part(block_max_tf_t, len(block_min_norm_t))` (under the
  * bag's combiner) reaches the running threshold. The hits return as a local
  * relation, so collecting them starts no job. The result is identical to
  * the exhaustive plan (pruning is a pure optimization), verified in tests.
  */
object WandTopK {

  /** A same-field term-bag query recognized for block-max evaluation.
    * `dismax = Some(tb)` means the `should` terms combine as
    * `mx + tb·(sm − mx)` (must/mustNot empty); None means BM25 sum.
    */
  final case class TermBag(
      field: String,
      must: Seq[String],
      should: Seq[String],
      mustNot: Seq[String],
      dismax: Option[Double] = None)

  /** The k best `(segment_id, doc_id, score)` rows in rank order, and how
    * many doc-aligned block groups the kernel saw and how many it decoded
    * (the rest were pruned, structurally or by their score bound).
    */
  final case class Result(hits: Seq[Row], groupsSeen: Int, groupsDecoded: Int) {
    /** The hits from `offset` on as a local DataFrame: collecting it starts no job. */
    def toDF(spark: SparkSession, offset: Int = 0): DataFrame =
      spark.createDataFrame(hits.drop(offset).asJava, outSchema)
  }

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

  /** Backwards-compatible entry: a should-only bag of terms. */
  def topK(searcher: Searcher, field: String, terms: Seq[String], k: Int): DataFrame =
    topK(searcher, TermBag(field, Nil, terms, Nil, None), k)

  def topK(searcher: Searcher, bag: TermBag, k: Int): DataFrame =
    run(searcher, bag, k).toDF(searcher.reader.spark)

  /** Block-max top-k of `bag` in one job (see the object doc). */
  def run(searcher: Searcher, bag: TermBag, k: Int): Result = {
    val reader = searcher.reader
    require(reader.deletes.isEmpty,
      "WAND path requires a tombstone-free index (merge first), else use the exhaustive plan")
    val field = bag.field
    val empty = Result(Nil, 0, 0)
    if (k <= 0) return empty

    // the one job: every live block of the bag's terms
    val blocks = reader.postings
      .filter(col("field") === field &&
        col("term").isin((bag.must ++ bag.should ++ bag.mustNot).distinct: _*))
      .select("term", "segment_id", "block_id", "doc_count", "block_max_tf",
        "block_min_norm", "doc_ids", "tfs", "norms")
      .collect()
    val dfs: Map[String, Long] = blocks.groupMapReduce(_.getString(0))(_.getInt(3).toLong)(_ + _)

    // an unindexed must term makes the conjunction empty
    if (bag.must.exists(t => !dfs.contains(t))) return empty
    val mustT = bag.must
    val shouldT = bag.should.filter(dfs.contains)
    val notT = bag.mustNot.toSet
    if (mustT.isEmpty && shouldT.isEmpty) return empty

    // the exhaustive plan's stats: a field without a fieldstats row scores
    // with N = 0 and avgdl = 0
    val stat = reader.fieldStats.getOrElse(field, FieldStat(0L, 0L))
    val avgdl = stat.avgdl
    val idf: Map[String, Double] =
      (mustT ++ shouldT).distinct.map(t => t -> BM25.idf(dfs(t), stat.nDocs)).toMap
    val dismaxTb = bag.dismax
    val nMust = mustT.size
    val k1 = BM25.K1
    val b = BM25.B
    // same operation order as BM25.scoreCol so single-term scores are
    // bitwise identical to the exhaustive plan
    def score(tIdf: Double, tf: Double, normId: Int): Double = {
      val len = FieldNorm.decode(normId).toDouble
      tIdf * (tf * (k1 + 1)) / (tf + k1 * ((1 - b) + b * len / avgdl))
    }
    val heap = new java.util.PriorityQueue[Hit](k, hitOrd.reverse) // worst on top
    def threshold: Double =
      if (heap.size < k) Double.NegativeInfinity else heap.peek().score
    def offer(h: Hit): Unit = {
      if (heap.size < k) heap.add(h)
      else if (hitOrd.lt(h, heap.peek())) { heap.poll(); heap.add(h) }
    }

    def docIds(r: Row): Array[Int] = PostingCodec.unpackDocIds(r.getAs[Array[Byte]](6), r.getInt(3))

    var seen = 0
    var decoded = 0
    val it = blocks.sortBy(r => (r.getInt(1), r.getInt(2))).iterator.buffered
    while (it.hasNext) {
      // gather one doc-aligned group: all term-blocks of (seg, block_id)
      val head = it.head
      val seg = head.getInt(1)
      val blockId = head.getInt(2)
      val byTerm = new java.util.HashMap[String, Row](8)
      while (it.hasNext && it.head.getInt(1) == seg && it.head.getInt(2) == blockId) {
        val r = it.next()
        byTerm.put(r.getString(0), r)
      }
      seen += 1

      // structural prune: a group missing any must term's block holds no hit
      var mustOk = true
      var mi = 0
      while (mustOk && mi < nMust) {
        mustOk = byTerm.containsKey(mustT(mi)); mi += 1
      }
      if (mustOk) {
        def blockUb(t: String): Double = {
          val r = byTerm.get(t)
          if (r == null) 0.0 else score(idf(t), r.getInt(4).toDouble, r.getInt(5))
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
        if (ub >= threshold) {
          decoded += 1
          val acc = new java.util.TreeMap[Integer, Acc]()
          def decode(t: String)(f: (Int, Double) => Unit): Unit = {
            val r = byTerm.get(t)
            if (r != null) {
              val cnt = r.getInt(3)
              val ids = docIds(r)
              val tfs = PostingCodec.unpackVarInts(r.getAs[Array[Byte]](7), cnt)
              val norms = r.getAs[Array[Byte]](8)
              val tIdf = idf(t)
              var i = 0
              while (i < cnt) {
                f(ids(i), score(tIdf, tfs(i).toDouble, norms(i) & 0xFF))
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
              offer(Hit(s, seg, doc))
            }
          }
        }
      }
    }
    val hits = heap.asScala.toSeq.sorted(hitOrd).map(h => Row(h.seg, h.doc, h.score))
    Result(hits, seen, decoded)
  }

  /** Recognize a block-max-eligible query: a single term; a same-field
    * term-bag boolean (should-only with msm ≤ 1, or must/should/must-not
    * with no msm); or a same-field term dismax with tieBreaker in [0, 1].
    * Duplicate terms within one occur group fall back to the exhaustive
    * plan (it sums the duplicate clause twice; the idf map here scores each
    * term once per group).
    */
  def eligible(q: Query): Option[TermBag] = q match {
    case TermQuery(f, t) => Some(TermBag(f, Nil, Seq(t), Nil, None))
    case BooleanQuery(clauses, msm) =>
      val termClauses = clauses.collect { case (o, TermQuery(f, t)) => (o, f, t) }
      if (termClauses.size != clauses.size || termClauses.isEmpty) None
      else if (termClauses.map(_._2).distinct.size != 1) None
      else {
        val must = termClauses.collect { case (Occur.Must, _, t) => t }
        val should = termClauses.collect { case (Occur.Should, _, t) => t }
        val mustNot = termClauses.collect { case (Occur.MustNot, _, t) => t }
        val msmOk = if (must.nonEmpty) msm.forall(_ <= 0) else msm.forall(_ <= 1)
        val distinctOk = must.distinct.size == must.size &&
          should.distinct.size == should.size && mustNot.distinct.size == mustNot.size
        if (msmOk && distinctOk && (must.nonEmpty || should.nonEmpty))
          Some(TermBag(termClauses.head._2, must, should, mustNot, None))
        else None
      }
    case DisjunctionMaxQuery(ds, tb) if tb >= 0.0 && tb <= 1.0 =>
      val terms = ds.collect { case TermQuery(f, t) => (f, t) }
      if (terms.size == ds.size && terms.nonEmpty && terms.map(_._1).distinct.size == 1 &&
          terms.distinct.size == terms.size)
        Some(TermBag(terms.head._1, Nil, terms.map(_._2), Nil, Some(tb)))
      else None
    case _ => None
  }
}
