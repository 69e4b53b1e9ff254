package graft.search

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.analysis.Analyzers
import graft.index.{IndexSchema, PostingCodec}

/** Posting-block decoders exposed to Spark plans. */
object PostingUdfs {
  /** Ids-only decode for unscored membership paths (term-range, regex): lets
    * Catalyst prune the `tfs` / `norms` columns out of the parquet scan.
    */
  val unpackIds: UserDefinedFunction =
    udf((docIds: Array[Byte], n: Int) => PostingCodec.unpackDocIds(docIds, n))

  /** Count phrase matches. slop=0 is exact adjacency of normalized positions
    * (`pos_i - offset_i` all equal). slop>0 uses move-based slop: a base
    * (first-term) occurrence matches iff there EXISTS one occurrence per
    * remaining term such that the spread of normalized positions —
    * max(norm) - min(norm) over ALL terms including the base — is <= slop
    * (Lucene `matchLength` semantics; for two terms this reduces to
    * |norm_1 - norm_0| <= slop). tf = number of matching base occurrences,
    * consistent with the slop=0 count of exact alignments.
    */
  def phraseTf(positionsPerTerm: Seq[Seq[Int]], offsets: Seq[Int], slop: Int): Int = {
    var n = 0
    foreachPhraseMatch(positionsPerTerm, offsets, slop)(_ => n += 1)
    n
  }

  /** The matched base-term positions (pre-filter ordinals) — the phrase's
    * alignment windows, for per-hit explain. Same matcher as [[phraseTf]]
    * (result length == phraseTf).
    */
  def phraseMatchPositions(
      positionsPerTerm: Seq[Seq[Int]], offsets: Seq[Int], slop: Int): Array[Int] = {
    val out = Array.newBuilder[Int]
    foreachPhraseMatch(positionsPerTerm, offsets, slop)(out += _)
    out.result()
  }

  /** Call `f` with each base position that starts a match (see
    * [[phraseTf]]). Each non-base term's positions (ascending, as decoded)
    * are normalized into an array once; a base occurrence at normalized n0
    * matches iff some window [w, w + slop] with n0 - slop <= w <= n0 holds
    * one normalized position of every term — for slop 0, n0 itself.
    */
  private def foreachPhraseMatch(positionsPerTerm: Seq[Seq[Int]], offsets: Seq[Int], slop: Int)(
      f: Int => Unit): Unit = {
    val base0 = offsets.head
    val normed = Array.tabulate(positionsPerTerm.size - 1) { j =>
      val ns = positionsPerTerm(j + 1).toArray // a copy
      val off = offsets(j + 1)
      var i = 0
      while (i < ns.length) { ns(i) -= off; i += 1 }
      ns
    }
    def hasInWindow(ns: Array[Int], lo: Int, hi: Int): Boolean = {
      val idx = java.util.Arrays.binarySearch(ns, lo)
      val ins = if (idx >= 0) idx else -idx - 1
      ins < ns.length && ns(ins) <= hi
    }
    def covered(w: Int): Boolean = {
      var j = 0
      while (j < normed.length && hasInWindow(normed(j), w, w + slop)) j += 1
      j == normed.length
    }
    positionsPerTerm.head.foreach { p0 =>
      val n0 = p0 - base0
      var w = n0 - slop
      while (w <= n0 && !covered(w)) w += 1
      if (w <= n0) f(p0)
    }
  }
}

/** Plans a [[Query]] into a DataFrame of `(segment_id, doc_id, score)` and
  * runs collectors over it. The per-segment collect + merge of the reference
  * (`index_holder.rs:394-402`) maps to the driver's top-k walk over
  * doc-aligned block groups for top-k and explain, and to partition
  * parallelism + Spark's partial/final aggregation for full results.
  */
class Searcher(
    val reader: IndexReader,
    val schema: IndexSchema,
    /** per-search fieldnorms toggle (reference `query.proto:52`) */
    val fieldnorms: Boolean = true
) {
  import PostingUdfs._

  private def spark = reader.spark

  private def avgdl(field: String): Double =
    reader.fieldStats.get(field).map(_.avgdl).getOrElse(0.0)
  private def totalDocs(field: String): Long =
    reader.fieldStats.get(field).map(_.nDocs).getOrElse(0L)

  /** Rewrite parse-time nodes into the executable algebra: MatchQuery runs
    * the SummaQL parser; MoreLikeThis extracts salient terms and becomes a
    * should-boolean (reference: `proto_query_parser.rs:143-157, 204-237`).
    */
  def resolve(q: Query): Query = q match {
    case MatchQuery(v, patch)        => resolve(parseMatch(v, patch))
    case mlt: MoreLikeThisQuery      => expandMoreLikeThis(mlt)
    case BooleanQuery(cs, m)         => BooleanQuery(cs.map { case (o, c) => (o, resolve(c)) }, m)
    case BoostQuery(c, b)            => BoostQuery(resolve(c), b)
    case DisjunctionMaxQuery(ds, tb) => DisjunctionMaxQuery(ds.map(resolve), tb)
    case other                       => other
  }

  /** MoreLikeThis: tokenize the passed doc's field values, keep terms passing
    * tf / df / word-length / stop-word gates, rank by tf·idf, OR the top
    * `maxQueryTerms` as TermQueries.
    */
  private def expandMoreLikeThis(mlt: MoreLikeThisQuery): Query = {
    val candidates: Seq[(String, String, Int)] = mlt.fields.toSeq.flatMap { case (field, text) =>
      schema.field(field).toSeq.flatMap { fd =>
        val toks = Analyzers(fd.analyzer).tokenize(text)
        toks
          .groupBy(_.text)
          .map { case (t, ts) => (field, t, ts.size) }
          .filter { case (_, t, tf) =>
            tf >= mlt.minTermFrequency &&
            (mlt.minWordLength <= 0 || t.length >= mlt.minWordLength) &&
            (mlt.maxWordLength <= 0 || t.length <= mlt.maxWordLength) &&
            !graft.analysis.StopWords.All.contains(t)
          }
      }
    }
    if (candidates.isEmpty) return EmptyQuery
    val dfs = reader.termDfs(candidates.map(c => (c._1, c._2)))
    val scored = candidates.flatMap { case (f, t, tf) =>
      val df = dfs.getOrElse((f, t), 0L)
      if (df < mlt.minDocFrequency || df > mlt.maxDocFrequency || df == 0L) None
      else Some(((f, t), tf * BM25.idf(df, totalDocs(f))))
    }
    val top = scored.sortBy { case ((f, t), s) => (-s, f, t) }.take(mlt.maxQueryTerms)
    if (top.isEmpty) EmptyQuery
    else {
      val bool = BooleanQuery(top.map { case ((f, t), _) => (Occur.Should, TermQuery(f, t): Query) })
      mlt.boost.map(BoostQuery(bool, _)).getOrElse(bool)
    }
  }

  /** Parser config bound to this index's schema; fast fields = stored
    * docs-table columns usable for ranges/equality.
    */
  lazy val parserConfig: SummaQL.Config = SummaQL.Config(
    defaultFields = schema.defaultFields,
    schema = Some(schema),
    fastFields = schema.storedFields.toSet
  )

  /** Parse SummaQL against the index-default config, with the reference's
    * per-query override merged over it when the MatchQuery carries one
    * (`proto_query_parser.rs:143-149`).
    */
  private def parseMatch(value: String, patch: Option[SummaQL.ConfigPatch] = None): Query =
    SummaQL.parse(value, patch.fold(parserConfig)(parserConfig.merged))

  private val keys = Seq("segment_id", "doc_id")

  private def emptyHits: DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row], WandTopK.outSchema)

  /** Is `field` a single-token (`raw`/`raw_ci`) field whose exact value is
    * also stored in the docs table? Some(caseInsensitive) when the docs-scan
    * fast path applies, None otherwise.
    */
  private[search] def fastTermCi(field: String): Option[Boolean] =
    schema
      .field(field)
      .filter(_ => schema.storedFields.contains(field) && reader.docs.columns.contains(field))
      .collect {
        case f if f.analyzer == "raw"    => false
        case f if f.analyzer == "raw_ci" => true
      }

  /** `q`'s kernel tree ([[WandTopK.tree]]): terms and phrases are posting
    * leaves, every other leaf (range, exists, all, empty, regex, term-range)
    * is an [[WandTopK.Opaque]] docs-table leaf with a constant score — and so
    * is every term when all of them sit on raw stored fields, whose
    * docs-scan ([[leafDocs]]) is a pruned column filter, cheaper than the
    * posting block walk. [[topDocs]] and [[explainTopDocs]] walk it; [[plan]]
    * runs a bare Opaque leaf's own plan and any other tree the kernel's
    * full-result plan.
    */
  private def blockPlan(q: Query): WandTopK.Plan = {
    val p = WandTopK.tree(q, WandTopK.postingLeaf)
    if (p.pairs.isEmpty || !p.pairs.forall { case (f, _) => fastTermCi(f).isDefined }) p
    else WandTopK.tree(q, leaf => WandTopK.postingLeaf(leaf) match {
      case WandTopK.Term(f, t) => WandTopK.Opaque(TermQuery(f, t))
      case other               => other
    })
  }

  /** Typed predicate for a fast-field (docs-table) column. */
  private def rangePredicate(rq: RangeQuery): Column = {
    val c = col(rq.field)
    val dt = reader.docs.schema(rq.field).dataType
    def castLit(v: String): Column = lit(v).cast(dt)
    val lo = rq.lower.map(v => if (rq.includeLower) c >= castLit(v) else c > castLit(v))
    val hi = rq.upper.map(v => if (rq.includeUpper) c <= castLit(v) else c < castLit(v))
    (lo.toSeq ++ hi.toSeq).reduceOption(_ && _).getOrElse(lit(true))
  }

  /** `q`'s scored doc set `(segment_id, doc_id, score)`, tombstoned docs
    * included: a bare docs-table leaf's own plan ([[leafHits]]), or the block
    * kernel's ([[WandTopK.hits]]) for every tree (see [[blockPlan]]).
    */
  def plan(q: Query, dfs: Map[(String, String), Long]): DataFrame = blockPlan(resolve(q)) match {
    case WandTopK.Opaque(leaf) => leafHits(leaf, dfs)
    case p                     => WandTopK.hits(this, p, dfs)
  }

  /** The docs `(segment_id, doc_id)` of a docs-table leaf, tombstoned docs
    * included; None when it has none. A term-range or regex leaf lists a
    * doc once per matching term it holds. A docs-scan raw term ([[blockPlan]])
    * is a pruned column filter instead of a scan of its posting blocks (on a
    * head term like lang:en, the densest ones); its field has one token per
    * non-empty value, so every match has tf 1 and length 1.
    */
  private def leafDocs(q: Query, dfs: Map[(String, String), Long]): Option[DataFrame] = {
    def where(pred: Column) = Some(reader.docs.filter(pred).select(keys.map(col): _*))
    q match {
      case AllQuery => Some(reader.docs.select(keys.map(col): _*))
      // df > 0 guarantees the term was indexed, so matches are exactly the
      // docs whose (optionally lowercased) stored value equals the term;
      // null/empty stored values can never equal a non-empty indexed term
      case TermQuery(f, v) =>
        if (dfs.getOrElse((f, v), 0L) == 0L) None
        else where(if (fastTermCi(f).contains(true)) lower(col(f)) === v else col(f) === v)
      case rq: RangeQuery => where(rangePredicate(rq))
      case TermRangeQuery(f, lo, hi, il, iu) =>
        val t = col("term")
        val conds = Seq(Some(col("field") === f),
          lo.map(v => if (il) t >= v else t > v),
          hi.map(v => if (iu) t <= v else t < v)).flatten
        Some(postingDocs(conds.reduce(_ && _)))
      case ExistsQuery(f) =>
        val docsSchema = reader.docs.schema.fieldNames.toSet
        if (docsSchema.contains(s"len_$f")) where(col(s"len_$f") > 0)
        else if (docsSchema.contains(f)) where(col(f).isNotNull)
        else None
      case RegexQuery(f, pat) => Some(postingDocs(col("field") === f && col("term").rlike(pat)))
      case _                  => None // EmptyQuery, a phrase without terms
    }
  }

  /** The direct plan of a docs-table leaf: its [[leafDocs]], each once, at
    * its constant score — a docs-scan raw term's is the posting plan's
    * [[BM25.scoreCol]] at tf 1 and length 1 (SearchSpec pins it bitwise),
    * every other leaf's 1.0.
    */
  private[search] def leafHits(q: Query, dfs: Map[(String, String), Long]): DataFrame =
    leafDocs(q, dfs).fold(emptyHits)(docs => q match {
      case TermQuery(f, v) =>
        docs.withColumn("score", BM25.scoreCol(lit(1), lit(graft.index.FieldNorm.encode(1L)),
          BM25.idf(dfs((f, v)), totalDocs(f)), avgdl(f), fieldnorms))
      case _: TermRangeQuery | _: RegexQuery => docs.distinct().withColumn("score", lit(1.0))
      case _                                 => docs.withColumn("score", lit(1.0))
    })

  /** The docs holding any term the `terms` predicate matches: an ids-only
    * posting decode, a doc once per term.
    */
  private def postingDocs(terms: Column): DataFrame =
    reader.postings
      .filter(terms)
      .select(col("segment_id"), explode(unpackIds(col("doc_ids"), col("doc_count"))).as("doc_id"))

  /** Each of `leaves`' docs as per-segment bitsets, in `leaves` order: one
    * job with no Exchange over their [[leafDocs]] (none if no leaf has docs);
    * tasks set bits and the driver ORs them, so no doc-id row is collected.
    */
  private[search] def leafBits(leaves: Seq[Query], dfs: Map[(String, String), Long])
      : IndexedSeq[Map[Int, java.util.BitSet]] = {
    val merged = scala.collection.mutable.HashMap[(Int, Int), java.util.BitSet]()
    val rows = leaves.zipWithIndex.flatMap { case (q, i) =>
      leafDocs(q, dfs).map(_.select(lit(i).as("leaf"), col("segment_id"), col("doc_id")))
    }
    if (rows.nonEmpty) rows.reduce(_ union _).queryExecution.toRdd.mapPartitions { it =>
      val bits = scala.collection.mutable.HashMap[(Int, Int), java.util.BitSet]()
      var (leaf, seg, cur) = (-1, -1, null: java.util.BitSet)
      it.foreach { r =>
        // a partition's rows come in runs of one leaf and one segment
        if (r.getInt(0) != leaf || r.getInt(1) != seg) {
          leaf = r.getInt(0); seg = r.getInt(1)
          cur = bits.getOrElseUpdate((leaf, seg), new java.util.BitSet)
        }
        cur.set(r.getInt(2))
      }
      bits.iterator
    }.collect().foreach { case (k, b) => merged.get(k).fold(merged(k) = b)(_.or(b)) }
    IndexedSeq.tabulate(leaves.size)(i => merged.collect { case ((`i`, seg), b) => seg -> b }.toMap)
  }

  /** Scored doc-set of a query: (segment_id, doc_id, score), tombstoned docs
    * excluded (reference: delete-by-query tombstones,
    * `index_writer_holder.rs:99-105`).
    */
  def search(q: Query): DataFrame = {
    val rq = resolve(q)
    reader.applyDeletes(plan(rq, reader.termDfs(WandTopK.tree(rq, WandTopK.postingLeaf).pairs)))
  }

  /** Hits joined with the docs table (fast fields + stored columns) — the
    * substrate for fast-field ordering, eval scoring and aggregations.
    */
  def searchWithDocs(q: Query): DataFrame =
    reader.docs.join(search(q), keys, "inner")

  /** Top-k ordered by a fast field (C2, `fruit_extractors.rs:144-163`). */
  def topDocsByField(q: Query, field: String, k: Int, asc: Boolean = false): DataFrame = {
    val ord = if (asc) col(field).asc else col(field).desc
    searchWithDocs(q).orderBy(ord, col("segment_id").asc, col("doc_id").asc).limit(k)
  }

  /** Top-k by an eval-expr score (C3): the expression string compiles to a
    * Column over `original_score`, `now` and fast-field columns — Catalyst
    * whole-stage codegen replaces the reference's per-segment fasteval.
    */
  def topDocsByEval(q: Query, exprSrc: String, k: Int, nowSecs: Double = 0.0): DataFrame = {
    val base = searchWithDocs(q)
    val vars: Map[String, Column] =
      base.columns.map(c => c -> col(c)).toMap +
        ("original_score" -> col("score")) +
        ("now" -> lit(nowSecs))
    base
      .withColumn("eval_score", Collectors.EvalExpr.compile(exprSrc, vars))
      .orderBy(col("eval_score").desc, col("segment_id").asc, col("doc_id").asc)
      .limit(k)
  }

  /** One-pass multi-collector (reference `MultiCollector`,
    * `index_holder.rs:507-529`): the matched doc-set is cached once and every
    * collector action reuses it.
    */
  def multiCollect[A](q: Query)(body: DataFrame => A): A = {
    val hits = search(q).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try body(hits)
    finally { hits.unpersist(); () }
  }

  /** Top-k by BM25 with the reference tie-break (score desc, then doc
    * address asc — `fruit_extractors.rs:101-122`): the driver walk of
    * [[blockPlan]]'s tree ([[WandTopK.run]]), the reference's per-segment
    * collect + merge_fruits in one pass, paged and tombstones dropped, as
    * `WandTopK.outSchema` rows. The window is checked by [[Searcher.windowEnd]].
    */
  private[search] def topRows(q: Query, limit: Int, offset: Int): Seq[Row] =
    WandTopK.run(this, blockPlan(resolve(q)), Searcher.windowEnd(limit, offset)).hits.drop(offset)

  /** [[topRows]] as a local relation: collecting it starts no job. */
  def topDocs(q: Query, limit: Int, offset: Int = 0): DataFrame =
    spark.createDataFrame(topRows(q, limit, offset).asJava, WandTopK.outSchema)

  /** SERVING-path top docs: probe the shared collector cache before planning
    * any Spark job (the reference's probe-before-search,
    * `index_holder.rs:460-505`); a repeated query inside the TTL returns the
    * cached block slice with zero jobs. Returns (rows, has_next).
    */
  def collectTopDocs(q: Query, limit: Int, offset: Int = 0): (Array[Row], Boolean) =
    Searcher.sharedCache.topDocs(this, q, limit, offset)

  /** Top-k joined back to the doc store (broadcast lookup join — reference
    * analog `index_registry.rs:131-213` fetching stored docs for k hits).
    */
  def topDocsWithKeys(q: Query, limit: Int, offset: Int = 0): DataFrame = {
    val hits = topDocs(q, limit, offset)
    reader.docs
      .join(broadcast(hits), keys, "inner")
      .orderBy(col("score").desc, col("segment_id").asc, col("doc_id").asc)
  }

  /** Matched-doc count (C4). Closed-form fast path: a single TermQuery on a
    * tombstone-free index is answered straight from `termDfs` — df summed
    * over live segments IS the matched-doc count (each doc containing the
    * term contributes exactly 1 to its segment's df, and with no deletes
    * there is nothing to subtract), for posting-backed and raw fast-path
    * fields alike. One pruned probe of the blocks' `doc_count` column, no
    * posting decode. Any other query shape, or any tombstones, falls back to
    * counting the scored doc-set (identical by the argument above, pinned in
    * SearchSpec).
    */
  def count(q: Query): Long = resolve(q) match {
    case TermQuery(f, v) if reader.tombstones.isEmpty =>
      reader.termDfs(Seq((f, v))).getOrElse((f, v), 0L)
    case rq => search(rq).count()
  }

  /** SERVING-path count/facets/aggregation: probe the collector cache before
    * planning any Spark job, like [[collectTopDocs]] — the reference caches
    * every cacheable collector's fruit, not only top-docs
    * (`collector_cache.rs:7-109`, wiring `index_holder.rs:460-505`).
    * Repeated requests inside the TTL return the stored fruit with zero
    * jobs; a commit invalidates via the snapshot-versioned key.
    */
  def collectCount(q: Query): Long =
    Searcher.sharedCache.fruit(this, q, "Count")(Array(Row(count(q)))).head.getLong(0)

  /** Cached facet counts fruit (rows of `(path, cnt)`). */
  def collectFacetCounts(q: Query, facetField: String, root: String): Array[Row] =
    Searcher.sharedCache.fruit(this, q, s"Facet{$facetField,$root}") {
      Collectors.facetCounts(searchWithDocs(q), facetField, root).collect()
    }

  /** Cached aggregation fruit — the Agg case class's structural toString is
    * the collector descriptor, exactly the reference's per-collector key.
    */
  def collectAggregate(q: Query, agg: Collectors.Agg): Array[Row] =
    Searcher.sharedCache.fruit(this, q, s"Agg{$agg}") {
      Collectors.aggregate(searchWithDocs(q), agg).collect()
    }

  /** Top-k with a per-hit `explain` JSON column (reference: the
    * `TopDocsCollector.explain` flag, `query.proto:245-246`) — each hit's
    * score decomposed into one detail row `(field, term, kind, tf, fieldnorm
    * id, idf, boost, contribution, positions)` per occurrence of each leaf
    * whose clause scored the hit, evaluated by the block kernel; the
    * contributions sum to the score. A phrase is one `phrase` leaf (tf = its
    * alignment count, idf = Σ term idfs, positions = the matched base-term
    * positions); under a dismax, the non-best children carry the
    * tieBreaker in their boost. A docs-table leaf is one `const` row scored
    * at its constant score (a docs-scan raw term one `term` row). Each hit
    * is explained from the groups its [[topDocs]] walk decoded.
    */
  def explainTopDocs(q: Query, limit: Int, offset: Int = 0): DataFrame = {
    val explained = WandTopK.explain(this, blockPlan(resolve(q)), Searcher.windowEnd(limit, offset)).drop(offset)
    spark.createDataFrame(explained.asJava, WandTopK.explainSchema)
      .select(
        col("segment_id"), col("doc_id"), col("score"),
        to_json(struct(
          col("score").as("value"),
          lit("sum of leaf contributions").as("description"),
          col("details"))).as("explain"))
  }
}

object Searcher {
  /** The end `offset + limit` of a top-k window, checked (an IllegalArgumentException). */
  def windowEnd(limit: Int, offset: Int): Int = {
    require(limit >= 0 && offset >= 0, s"limit ($limit) and offset ($offset) must be >= 0")
    require(limit <= Int.MaxValue - offset, s"offset $offset + limit $limit overflows an Int")
    offset + limit
  }

  /** Process-wide collector cache every searcher's `collect*` entries probe
    * (reference: one `CollectorCache` per index holder; keys embed index dir
    * + snapshot version, so one map serves all).
    */
  lazy val sharedCache: CollectorCache = new CollectorCache()
}
