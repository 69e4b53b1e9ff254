package graft.search

import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.index.{FieldNorm, PostingCodec}

/** Block-max WAND top-k (`[tantivy, public]`; SURVEY.md §4.2 — the one
  * genuinely custom physical operator) and the one scored-query evaluator:
  * compute BM25 top-k while *skipping the decode* of posting blocks whose
  * score upper bound cannot beat the running k-th best.
  *
  * A query becomes a [[Plan]] tree ([[tree]]), tantivy's Weight/Scorer tree
  * (SURVEY §2.6): nodes are booleans (must / should with a minimum /
  * mustNot), boosts and disjunction-max, nested to any depth; leaves are
  * terms and phrases of ≥2 terms, each term a `(field, term)` pair scored
  * with its own field's N and avgdl, and [[Opaque]] docs-table leaves. One
  * [[Kernel]] evaluates the tree over one doc-aligned `(segment_id,
  * block_id)` group — the docs of a group share its block id `doc_id >>>
  * block_bits` in every term's postings — and each node gives `viable` (can
  * the group hold a hit at all), `bound` (an upper bound on any hit's
  * score) and its hits:
  *  - a term scores `BM25(idf, tf, norm)`;
  *  - a phrase intersects its terms' doc ids and runs
  *    [[PostingUdfs.phraseTf]] on the positions; it scores `BM25(Σ idf,
  *    phrase_tf, first term's norm)` and is bounded by the first term's
  *    `BM25(Σ idf, block_max_tf, block_min_norm)`, safe since phrase_tf never
  *    exceeds the first term's tf;
  *  - an Opaque leaf is a constant-score doc set (tantivy's `ExistsQuery`
  *    bitset): its docs are its per-segment bitset's bits in the group, each
  *    at its constant, which is also its bound;
  *  - a boolean sums its must scores (left to right) and the scores of the
  *    should clauses that match; dismax is `mx + tb·(sm − mx)`; a boost
  *    multiplies. A bound counts a should clause only above 0, and a negative
  *    boost or a dismax tieBreaker outside [0, 1] leaves its subtree
  *    unbounded, so a clause that can lower a score never prunes a group
  *    that holds a hit.
  * Scores use the per-occurrence plan's operation order, so they equal it
  * to the last bits or close to it (verified at 1e-12 in tests). A tree's
  * groups are its posting blocks' groups and its leaf-only groups, where a
  * docs leaf has a doc and the tree is viable without any posting block.
  *
  * Top-k ([[run]]) of every tree: one lookup collects the plan's live
  * posting blocks (not postings!; no job on a primed reader whose store
  * partitions the driver holds), one job with no Exchange its docs leaves'
  * bitsets. df is Σ `doc_count` over all of a term's blocks, as
  * `IndexReader.termDfs` sums it — deleted docs included, until a merge.
  * The driver walks the groups in order with one top-k heap (per-segment
  * collect + `merge_fruits` in one pass), decoding a group only while the
  * heap has room or its score bound exceeds the kth score (a later doc
  * that ties it loses the address tie-break), and never offers a
  * tombstoned doc. The hits return as `outSchema` rows. [[explain]] is the same walk,
  * each hit explained from its own group.
  *
  * Full results ([[hits]]) of any tree: the kernel runs per group inside
  * one aggregation — posting blocks ∪ leaf-only group keys `→ group by
  * (segment_id, block_id) → kernel → explode`, one shuffle and no join, the
  * bitsets broadcast to the kernel; a tree of one `(field, term)` pair and
  * no leaf-only group has one block per group and needs no shuffle at all.
  */
object WandTopK {

  /** A scored-query tree the kernel evaluates. */
  sealed trait Plan {
    /** The distinct `(field, term)` pairs whose posting blocks it reads. */
    lazy val pairs: Seq[(String, String)] = (this match {
      case Term(f, t)          => Seq((f, t))
      case Phrase(f, ts, _, _) => ts.map((f, _))
      case Bool(m, s, n, _)    => (m ++ s ++ n).flatMap(_.pairs)
      case Boost(c, _)         => c.pairs
      case DisMax(cs, _)       => cs.flatMap(_.pairs)
      case Opaque(_)           => Nil
    }).distinct

    /** Every node of the tree, this one first. */
    def nodes: Seq[Plan] = this +: (this match {
      case Bool(m, s, n, _) => (m ++ s ++ n).flatMap(_.nodes)
      case Boost(c, _)      => c.nodes
      case DisMax(cs, _)    => cs.flatMap(_.nodes)
      case _                => Nil
    })

    /** The distinct [[Opaque]] leaves, in tree order. */
    lazy val opaques: Seq[Opaque] = nodes.collect { case o: Opaque => o }.distinct
  }

  final case class Term(field: String, term: String) extends Plan

  /** A phrase of ≥2 terms on `field`, term i at position offset `offsets(i)`. */
  final case class Phrase(field: String, terms: Seq[String], offsets: Seq[Int], slop: Int) extends Plan

  /** A hit matches every must child, no mustNot child and at least
    * `minShould` should children (≥ 1 when there is no must child).
    */
  final case class Bool(must: Seq[Plan], should: Seq[Plan], mustNot: Seq[Plan], minShould: Int)
      extends Plan

  final case class Boost(child: Plan, boost: Double) extends Plan

  /** `mx + tieBreaker·(sm − mx)` over the matching children. */
  final case class DisMax(children: Seq[Plan], tieBreaker: Double) extends Plan

  /** A leaf postings do not score (a docs-table leaf): a constant-score doc
    * set, evaluated once per request into per-segment bitsets
    * (`Searcher.leafBits`).
    */
  final case class Opaque(query: Query) extends Plan

  /** The k best `(segment_id, doc_id, score)` rows in rank order (with
    * [[outSchema]], so they equal a collected `toDF` row), and how
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

  private[search] val outSchema = StructType(Seq(
    StructField("segment_id", IntegerType, false),
    StructField("doc_id", IntegerType, false),
    StructField("score", DoubleType, false)))

  /** Explained hits: `outSchema` plus one detail row per scoring leaf. */
  private[search] val explainSchema = StructType(outSchema.fields :+ StructField("details",
    ArrayType(StructType(Seq(
      StructField("field", StringType), StructField("term", StringType),
      StructField("kind", StringType), StructField("tf", IntegerType),
      StructField("norm_id", IntegerType), StructField("idf", DoubleType),
      StructField("boost", DoubleType), StructField("contribution", DoubleType),
      StructField("positions", ArrayType(IntegerType)))))))

  /** A scored term's (or phrase's) idf and its field's avgdl. */
  private final case class Weight(idf: Double, avgdl: Double, fieldnorms: Boolean) {
    // same operation order as BM25.scoreCol so scores are bitwise identical
    // to the per-occurrence plan; fieldnorms off scores len = 1
    def score(tf: Double, normId: Int): Double = {
      val len = if (fieldnorms) FieldNorm.decode(normId).toDouble else 1.0
      idf * (tf * (BM25.K1 + 1)) / (tf + BM25.K1 * ((1 - BM25.B) + BM25.B * len / avgdl))
    }
  }

  // the columns of IndexReader.blockCols, the block layout every route reads
  private val FieldCol = 0
  private val TermCol = 1
  private val Seg = 2
  private val Block = 3
  private val Count = 4
  private val MaxTf = 5
  private val MinNorm = 6
  private val DocIds = 7
  private val Tfs = 8
  private val Norms = 9
  private val Positions = 10

  /** Does `plan` read positions (`positions` is a block column only then). */
  private def withPositions(plan: Plan): Boolean = plan.nodes.exists(_.isInstanceOf[Phrase])

  /** One posting block, each column decoded on first use. */
  private final class Decoded(r: Row) {
    lazy val ids: Array[Int] = PostingCodec.unpackDocIds(r.getAs[Array[Byte]](DocIds), r.getInt(Count))
    lazy val tfs: Array[Int] = PostingCodec.unpackVarInts(r.getAs[Array[Byte]](Tfs), r.getInt(Count))
    lazy val positions: Array[Array[Int]] =
      PostingCodec.unpackPositions(r.getAs[Array[Byte]](Positions), tfs)
    private val norms = r.getAs[Array[Byte]](Norms)
    def norm(i: Int): Int = norms(i) & 0xFF
  }

  /** A node's hits in one group: doc ids ascending, with their scores. */
  private final class Hits(val docs: Array[Int], val scores: Array[Double]) {
    def indexOf(doc: Int): Int = java.util.Arrays.binarySearch(docs, doc)
  }

  private val NoHits = new Hits(Array.emptyIntArray, Array.emptyDoubleArray)

  private final class HitsBuilder {
    private val docs = Array.newBuilder[Int]
    private val scores = Array.newBuilder[Double]
    def add(doc: Int, score: Double): Unit = { docs += doc; scores += score }
    def result: Hits = new Hits(docs.result(), scores.result())
  }

  /** The union of clauses' hits over their dense doc range (a group's docs
    * share one block id): per doc the clause-order score sum, the number of
    * clauses matched and the best clause score.
    */
  private final class Union(hs: Seq[Hits]) {
    private val live = hs.filter(_.docs.nonEmpty)
    private val lo = if (live.isEmpty) 0 else live.map(_.docs.head).min
    private val n = if (live.isEmpty) 0 else live.map(_.docs.last).max - lo + 1
    private val sum = new Array[Double](n)
    private val cnt = new Array[Int](n)
    private val mx = Array.fill(n)(Double.NegativeInfinity)
    live.foreach { h =>
      var i = 0
      while (i < h.docs.length) {
        val j = h.docs(i) - lo
        val s = h.scores(i)
        sum(j) += s; cnt(j) += 1
        if (s > mx(j)) mx(j) = s
        i += 1
      }
    }
    def count(doc: Int): Int = { val j = doc - lo; if (j < 0 || j >= n) 0 else cnt(j) }
    def sumOf(doc: Int): Double = { val j = doc - lo; if (j < 0 || j >= n) 0.0 else sum(j) }

    /** `f(doc, sum, count, max)` for every doc of the union, in doc order. */
    def foreach(f: (Int, Double, Int, Double) => Unit): Unit = {
      var j = 0
      while (j < n) { if (cnt(j) > 0) f(lo + j, sum(j), cnt(j), mx(j)); j += 1 }
    }
  }

  /** Every doc present in all k sorted doc-id lists, in doc order: calls
    * `f(i0, cursor)` with the doc's index `i0` in the lead list and
    * `cursor(j)` its index in list j (`cursor(0) == i0`). Lists are sorted,
    * so a single forward cursor per list suffices.
    */
  private def intersect(ids: Array[Array[Int]])(f: (Int, Array[Int]) => Unit): Unit = {
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

  /** One `(segment_id, block_id)` group and its posting blocks by term. */
  private final class Group(val seg: Int, val block: Int, val blocks: java.util.Map[(String, String), Row])

  /** The evaluator of `root` over one `(segment_id, block_id)` group.
    * `weights` holds every term and phrase leaf's weight, and a raw term
    * leaf's; `leafBits` gives its Opaque leaves' docs per segment, in
    * `Plan.opaques` order, on first use.
    */
  private final class Kernel(val root: Plan, weights: Map[Plan, Weight], blockBits: Map[Int, Int],
      leafBits: () => IndexedSeq[Map[Int, java.util.BitSet]]) extends Serializable {
    @transient private lazy val bits: Map[Opaque, Map[Int, java.util.BitSet]] = root.opaques.zip(leafBits()).toMap

    /** A docs leaf's constant score: a docs-scan raw term's is a posting
      * term's at tf 1 and length 1 (its one token), every other leaf's 1.0.
      */
    private val constant: Map[Opaque, Double] = root.opaques.map {
      case o @ Opaque(TermQuery(_, _)) => o -> weights(o).score(1.0, FieldNorm.encode(1L))
      case o                           => o -> 1.0
    }.toMap

    def group(seg: Int, block: Int, blocks: Iterator[Row]): Group = {
      val byTerm = new java.util.HashMap[(String, String), Row](8)
      blocks.foreach(r => byTerm.put((r.getString(FieldCol), r.getString(TermCol)), r))
      new Group(seg, block, byTerm)
    }

    /** Leaf `o`'s first doc in `g` from `from` on, or -1. */
    private def nextDoc(o: Opaque, g: Group, from: Int = 0): Int = {
      val shift = blockBits(g.seg)
      val d = bits(o).get(g.seg).fold(-1)(_.nextSetBit(math.max(from, g.block << shift)))
      if (d >= 0 && d >>> shift == g.block) d else -1
    }

    /** The sorted `(segment_id << 32 | block_id)` keys of the groups where a
      * leaf has a doc and `root` is viable with no posting block.
      */
    def leafOnlyGroups(): Array[Long] = {
      val out = Array.newBuilder[Long]
      val none = java.util.Collections.emptyMap[(String, String), Row]()
      for (seg <- bits.values.flatMap(_.keys).toSeq.distinct.sorted) {
        val shift = blockBits(seg)
        val withDocs = new java.util.BitSet // the blocks where a leaf has a doc
        for (leaf <- bits.values; docs <- leaf.get(seg)) {
          var d = docs.nextSetBit(0)
          while (d >= 0) { val b = d >>> shift; withDocs.set(b); d = docs.nextSetBit((b + 1) << shift) }
        }
        withDocs.stream().forEach(b => if (viable(root, new Group(seg, b, none))) out += (seg.toLong << 32) | b)
      }
      out.result()
    }

    /** Can the group hold a hit of `n` at all. */
    def viable(n: Plan, g: Group): Boolean = n match {
      case Term(f, t) => g.blocks.containsKey((f, t))
      case Phrase(f, ts, _, _) =>
        ts.forall { t => val r = g.blocks.get((f, t)); r != null && !r.isNullAt(Positions) }
      case Bool(must, should, _, minShould) =>
        must.forall(viable(_, g)) && should.count(viable(_, g)) >= minShould
      case Boost(c, _)   => viable(c, g)
      case DisMax(cs, _) => cs.exists(viable(_, g))
      case o: Opaque     => nextDoc(o, g) >= 0
    }

    /** An upper bound on the score of any hit of the (viable) `n` in the group. */
    def bound(n: Plan, g: Group): Double = n match {
      case Term(f, t) =>
        val r = g.blocks.get((f, t))
        weights(n).score(r.getInt(MaxTf).toDouble, r.getInt(MinNorm))
      case Phrase(f, ts, _, _) =>
        val r = g.blocks.get((f, ts.head))
        weights(n).score(r.getInt(MaxTf).toDouble, r.getInt(MinNorm))
      case Bool(must, should, _, _) =>
        var u = 0.0
        must.foreach(c => u += bound(c, g))
        should.foreach(c => if (viable(c, g)) u += math.max(0.0, bound(c, g)))
        u
      case Boost(c, b) =>
        if (b > 0) b * bound(c, g) else if (b == 0) 0.0 else Double.PositiveInfinity
      // a tieBreaker outside [0, 1] can weigh a child's score against the
      // others' in any direction: unbounded, like a negative boost
      case DisMax(_, tb) if !(tb >= 0.0 && tb <= 1.0) => Double.PositiveInfinity
      case DisMax(cs, tb) =>
        var sm = 0.0; var mx = Double.NegativeInfinity
        cs.foreach { c =>
          if (viable(c, g)) { val u = bound(c, g); sm += math.max(0.0, u); if (u > mx) mx = u }
        }
        if (mx == Double.PositiveInfinity) mx else mx + tb * (sm - mx)
      case o: Opaque => constant(o)
    }

    /** One group's evaluation: each block decoded and each node's hits
      * computed once.
      */
    final class Eval(g: Group) {
      private val blocks = new java.util.HashMap[(String, String), Decoded]()
      private val memo = new java.util.HashMap[Plan, Hits]()

      private def block(f: String, t: String): Decoded =
        blocks.computeIfAbsent((f, t), k => new Decoded(g.blocks.get(k)))

      def hits(n: Plan): Hits = {
        var h = memo.get(n)
        if (h == null) { h = if (viable(n, g)) compute(n) else NoHits; memo.put(n, h) }
        h
      }

      private def positionsAt(bs: Seq[Decoded], cursor: Array[Int]): Seq[Seq[Int]] =
        Seq.tabulate(bs.size)(t => ArraySeq.unsafeWrapArray(bs(t).positions(cursor(t))))

      private def compute(n: Plan): Hits = n match {
        case Term(f, t) =>
          val b = block(f, t)
          val w = weights(n)
          new Hits(b.ids, Array.tabulate(b.ids.length)(i => w.score(b.tfs(i).toDouble, b.norm(i))))
        case Phrase(f, ts, offsets, slop) =>
          val bs = ts.map(block(f, _))
          val w = weights(n)
          val out = new HitsBuilder
          intersect(bs.map(_.ids).toArray) { (i0, cursor) =>
            val ptf = PostingUdfs.phraseTf(positionsAt(bs, cursor), offsets, slop)
            if (ptf > 0) out.add(bs.head.ids(i0), w.score(ptf.toDouble, bs.head.norm(i0)))
          }
          out.result
        case Bool(must, should, mustNot, minShould) =>
          val sh = new Union(should.map(hits))
          val not = mustNot.map(hits)
          def ok(d: Int) = sh.count(d) >= minShould && !not.exists(_.indexOf(d) >= 0)
          val out = new HitsBuilder
          if (must.isEmpty) sh.foreach((d, s, _, _) => if (ok(d)) out.add(d, s))
          else {
            val mh = must.map(hits).toArray
            intersect(mh.map(_.docs)) { (i0, cursor) =>
              val d = mh(0).docs(i0)
              if (ok(d)) {
                // the per-occurrence plan's left-associated must sum, then + should
                var s = mh(0).scores(i0)
                var j = 1
                while (j < mh.length) { s += mh(j).scores(cursor(j)); j += 1 }
                out.add(d, if (should.isEmpty) s else s + sh.sumOf(d))
              }
            }
          }
          out.result
        case Boost(c, b) =>
          val h = hits(c)
          new Hits(h.docs, h.scores.map(_ * b))
        case DisMax(cs, tb) =>
          val out = new HitsBuilder
          new Union(cs.map(hits)).foreach((d, sm, _, mx) => out.add(d, mx + tb * (sm - mx)))
          out.result
        case o: Opaque =>
          val out = new HitsBuilder
          val c = constant(o)
          var d = nextDoc(o, g)
          while (d >= 0) { out.add(d, c); d = nextDoc(o, g, d + 1) }
          out.result
      }

      /** The detail rows of `doc`, a hit of the root: one per occurrence of
        * each leaf whose clause scored it, with the cumulative boost. Under a
        * dismax the best child counts once and the others × tieBreaker, so
        * the contributions sum to the score.
        */
      def details(doc: Int): Seq[Row] = {
        val out = Seq.newBuilder[Row]
        def leafRow(n: Plan, boost: Double): Row = n match {
          case Term(f, t) =>
            val b = block(f, t)
            val i = java.util.Arrays.binarySearch(b.ids, doc)
            val w = weights(n)
            Row(f, t, "term", b.tfs(i), b.norm(i), w.idf, boost,
              w.score(b.tfs(i).toDouble, b.norm(i)) * boost, null)
          case Phrase(f, ts, offsets, slop) =>
            val bs = ts.map(block(f, _))
            val cursor = bs.map(b => java.util.Arrays.binarySearch(b.ids, doc)).toArray
            val mpos = PostingUdfs.phraseMatchPositions(positionsAt(bs, cursor), offsets, slop)
            val norm = bs.head.norm(cursor(0))
            val w = weights(n)
            Row(f, ts.mkString("\"", " ", "\"") + (if (slop > 0) s"~$slop" else ""), "phrase",
              mpos.length, norm, w.idf, boost, w.score(mpos.length.toDouble, norm) * boost,
              ArraySeq.unsafeWrapArray(mpos))
          case o @ Opaque(q) =>
            val contribution = constant(o) * boost
            q match {
              // a docs-scan raw term: one token, so tf 1 and the norm of length 1
              case TermQuery(f, t) =>
                Row(f, t, "term", 1, FieldNorm.encode(1L), weights(o).idf, boost, contribution, null)
              case _ => Row(null, q.toString, "const", null, null, null, boost, contribution, null)
            }
          case _ => sys.error(s"not a leaf: $n")
        }
        def walk(n: Plan, boost: Double): Unit = n match {
          case Bool(must, should, _, _) =>
            must.foreach(walk(_, boost))
            should.foreach(c => if (hits(c).indexOf(doc) >= 0) walk(c, boost))
          case Boost(c, b) => walk(c, boost * b)
          case DisMax(cs, tb) =>
            val matched = cs.indices.flatMap { i =>
              val h = hits(cs(i)); val j = h.indexOf(doc); if (j >= 0) Some(i -> h.scores(j)) else None
            }
            val best = matched.maxBy(_._2)._1
            matched.foreach { case (i, _) => walk(cs(i), if (i == best) boost else boost * tb) }
          case leaf => out += leafRow(leaf, boost)
        }
        walk(root, 1.0)
        out.result()
      }
    }
  }

  /** `plan`'s kernel given its terms' dfs (a term without one is in no
    * block), with its docs leaves' bitsets held on the driver, or broadcast
    * when the kernel is `shipped` to executors.
    */
  private def kernel(searcher: Searcher, plan: Plan, dfs: Map[(String, String), Long],
      shipped: Boolean): Kernel = {
    // the per-occurrence plan's weight: a field without a fieldstats row
    // scores with N = 0 and avgdl = 0
    def termWeight(f: String, t: String) = {
      val st = searcher.reader.fieldStats.getOrElse(f, FieldStat(0L, 0L))
      Weight(BM25.idf(dfs.getOrElse((f, t), 0L), st.nDocs), st.avgdl, searcher.fieldnorms)
    }
    val weights: Map[Plan, Weight] = plan.nodes.collect {
      case n @ Term(f, t)                => n -> termWeight(f, t)
      case n @ Opaque(TermQuery(f, t))   => n -> termWeight(f, t)
      case n @ Phrase(f, ts, _, _) =>
        // Σ idf in term order (Lucene/tantivy phrase weight), as the per-occurrence plan
        val ws = ts.map(termWeight(f, _))
        n -> ws.head.copy(idf = ws.map(_.idf).sum)
    }.toMap
    val leafBits =
      if (plan.opaques.isEmpty) () => IndexedSeq.empty
      else {
        val bits = searcher.leafBits(plan.opaques.map(_.query), dfs)
        if (!shipped) () => bits
        else { val shared = searcher.reader.spark.sparkContext.broadcast(bits); () => shared.value }
      }
    new Kernel(plan, weights, searcher.reader.blockBits, leafBits)
  }

  /** Every hit of `plan` (any tree with a leaf) as `(segment_id, doc_id,
    * score)`, tombstoned docs included (the caller applies deletes). `dfs`
    * are the `IndexReader.termDfs` of the plan's terms.
    */
  def hits(searcher: Searcher, plan: Plan, dfs: Map[(String, String), Long]): DataFrame = {
    val reader = searcher.reader
    val spark = reader.spark
    val k = kernel(searcher, plan, dfs, shipped = true)
    val kernelUdf = udf { (seg: Int, block: Int, blocks: Seq[Row]) =>
      val h = new k.Eval(k.group(seg, block, blocks.iterator)).hits(k.root)
      Seq.tabulate(h.docs.length)(i => DocScore(h.docs(i), h.scores(i)))
    }.withName("block_kernel")
    val cols = IndexReader.blockCols(withPositions(plan))
    val blocks = if (plan.pairs.isEmpty) None else Some(reader.postings
      .filter(reader.termsFilter(plan.pairs))
      .select(col("segment_id"), col("block_id"), struct(cols.map(col): _*).as("block")))
    // a leaf-only group's key row has a null block, which collect_list skips
    val keySchema = StructType(Seq(outSchema("segment_id"), StructField("block_id", IntegerType),
      StructField("block", StructType(cols.map(reader.postings.schema(_))))))
    val leafOnly = Some(k.leafOnlyGroups()).filter(_.nonEmpty).map(keys =>
      spark.createDataFrame(keys.toSeq.map(g => Row((g >>> 32).toInt, g.toInt, null)).asJava, keySchema))
    val groups = (blocks, leafOnly) match {
      case (None, None) => return spark.createDataFrame(java.util.Collections.emptyList[Row], outSchema)
      // one (field, term) pair has one block per group: no shuffle
      case (Some(b), None) if plan.pairs.size == 1 =>
        b.select(col("segment_id"), col("block_id"), array(col("block")).as("blocks"))
      case _ =>
        (blocks ++ leafOnly).reduce(_ unionByName _)
          .groupBy(col("segment_id"), col("block_id")).agg(collect_list("block").as("blocks"))
    }
    groups
      .select(col("segment_id"), explode(kernelUdf(col("segment_id"), col("block_id"), col("blocks"))).as("h"))
      .select(col("segment_id"), col("h.doc_id").as("doc_id"), col("h.score").as("score"))
  }

  /** Candidate hit ordered by (score desc, segment asc, doc asc), with the
    * evaluation of the group it came from.
    */
  private final case class Hit(score: Double, seg: Int, doc: Int, eval: Kernel#Eval)
  private val hitOrd: Ordering[Hit] =
    Ordering.by((h: Hit) => (-h.score, h.seg, h.doc))

  private val NoTombstones = new java.util.BitSet(0)

  /** The k best hits of `plan` in rank order, and the groups seen and
    * decoded: one lookup collects the plan's live blocks
    * ([[IndexReader.postingBlocks]]: a store lookup on a primed reader, a
    * posting-table filter on a fresh one), one job its docs leaves'
    * bitsets (`Searcher.leafBits`), and one top-k heap walks the
    * doc-aligned groups in order on the driver, offering no tombstoned doc.
    */
  private def walk(searcher: Searcher, plan: Plan, k: Int): (Seq[Hit], Int, Int) = {
    if (k <= 0) return (Nil, 0, 0)
    val reader = searcher.reader
    // the one lookup: every live block of the plan's terms. Positions are not
    // filtered on: df must cover all of a term's blocks
    val blocks = reader.postingBlocks(plan.pairs, withPositions(plan))
      .sortBy(r => (r.getInt(Seg), r.getInt(Block)))
    // a docs-scan raw term reads no block: its df is looked up
    val dfs: Map[(String, String), Long] =
      blocks.groupMapReduce(r => (r.getString(FieldCol), r.getString(TermCol)))(_.getInt(Count).toLong)(_ + _) ++
        reader.termDfs(plan.opaques.collect { case Opaque(TermQuery(f, t)) => (f, t) })
    val kn = kernel(searcher, plan, dfs, shipped = false)
    val heap = new java.util.PriorityQueue[Hit](k, hitOrd.reverse) // worst on top
    var seen = 0
    var decoded = 0
    def visit(seg: Int, blockId: Int, from: Int, until: Int): Unit = {
      val g = kn.group(seg, blockId, blocks.iterator.slice(from, until))
      seen += 1
      // groups are visited in ascending (segment, block) order, so every hit
      // in a full heap precedes this group's docs: a doc that only ties the
      // kth score loses the (segment, doc) tie-break. Once the heap is full,
      // decode only on a bound strictly above the kth score
      if (kn.viable(kn.root, g) && (heap.size < k || kn.bound(kn.root, g) > heap.peek().score)) {
        decoded += 1
        val dead = reader.tombstones.getOrElse(seg, NoTombstones)
        val e = new kn.Eval(g)
        val h = e.hits(kn.root)
        var d = 0
        while (d < h.docs.length) {
          if (!dead.get(h.docs(d))) {
            val hit = Hit(h.scores(d), seg, h.docs(d), e)
            if (heap.size < k) heap.add(hit)
            else if (hitOrd.lt(hit, heap.peek())) { heap.poll(); heap.add(hit) }
          }
          d += 1
        }
      }
    }
    // the leaf-only groups, visited in (segment, block) order among the posting blocks' groups
    val leafOnly = kn.leafOnlyGroups()
    var l = 0
    def visitLeafOnlyBelow(key: Long): Unit =
      while (l < leafOnly.length && leafOnly(l) < key) {
        visit((leafOnly(l) >>> 32).toInt, leafOnly(l).toInt, 0, 0); l += 1
      }
    var i = 0
    while (i < blocks.length) {
      val seg = blocks(i).getInt(Seg)
      val blockId = blocks(i).getInt(Block)
      var j = i + 1
      while (j < blocks.length && blocks(j).getInt(Seg) == seg && blocks(j).getInt(Block) == blockId)
        j += 1
      val key = (seg.toLong << 32) | blockId
      visitLeafOnlyBelow(key)
      if (l < leafOnly.length && leafOnly(l) == key) l += 1 // a group with posting blocks too
      visit(seg, blockId, i, j)
      i = j
    }
    visitLeafOnlyBelow(Long.MaxValue)
    (heap.asScala.toSeq.sorted(hitOrd), seen, decoded)
  }

  /** Block-max top-k of `plan` in one lookup (see the object doc). */
  def run(searcher: Searcher, plan: Plan, k: Int): Result = {
    val (top, seen, decoded) = walk(searcher, plan, k)
    Result(top.map(h => new GenericRowWithSchema(Array(h.seg, h.doc, h.score), outSchema)), seen, decoded)
  }

  /** [[run]]'s k best hits as `explainSchema` rows, each explained from the
    * blocks the walk decoded for it: no second job.
    */
  def explain(searcher: Searcher, plan: Plan, k: Int): Seq[Row] =
    walk(searcher, plan, k)._1.map(h => Row(h.seg, h.doc, h.score, h.eval.details(h.doc)))

  /** `q` as a kernel tree: booleans, boosts and dismax are its nodes, and
    * `leaf` maps every other query.
    */
  private[search] def tree(q: Query, leaf: Query => Plan): Plan = q match {
    case bq @ BooleanQuery(_, msm) =>
      def sub(qs: Seq[Query]) = qs.map(tree(_, leaf))
      val (must, should, mustNot) = (sub(bq.must), sub(bq.should), sub(bq.mustNot))
      // the per-occurrence plan applies msm only with should clauses, and
      // without a must clause a hit needs at least one should clause
      val minShould =
        if (must.isEmpty) math.max(msm.getOrElse(1), 1)
        else if (should.isEmpty) 0
        else math.max(msm.getOrElse(0), 0)
      Bool(must, should, mustNot, minShould)
    case BoostQuery(c, b)            => Boost(tree(c, leaf), b)
    case DisjunctionMaxQuery(ds, tb) => DisMax(ds.map(tree(_, leaf)), tb)
    case _                           => leaf(q)
  }

  /** Terms and phrases of ≥2 terms as posting leaves (a one-term phrase is a
    * term), every other leaf [[Opaque]].
    */
  private[search] def postingLeaf(q: Query): Plan = q match {
    case TermQuery(f, t)                => Term(f, t)
    case PhraseQuery(f, Seq((_, t)), _) => Term(f, t)
    case PhraseQuery(f, ts, slop) if ts.size >= 2 => Phrase(f, ts.map(_._2), ts.map(_._1), slop)
    case _                              => Opaque(q)
  }

  /** `q`'s kernel tree of posting leaves ([[postingLeaf]]): the tree every
    * top-k walks, whatever its leaves.
    */
  def eligible(q: Query): Option[Plan] = Some(tree(q, postingLeaf))
}
