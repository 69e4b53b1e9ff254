package graft.search

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
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
  * (`index_holder.rs:394-402`) maps to partition parallelism + Spark's
  * partial/final aggregation and `TakeOrderedAndProject`.
  */
class Searcher(
    val reader: IndexReader,
    val schema: IndexSchema,
    /** per-search fieldnorms toggle (reference `query.proto:52`) */
    val fieldnorms: Boolean = true,
    /** collector cache probed by [[collectTopDocs]] before planning a search
      * (reference `index_holder.rs:460-505` probe-before-search); None
      * disables. Defaults to the process-wide shared cache — entries key on
      * (indexDir, snapshot version, query, window), so sharing is safe.
      */
    val collectorCache: Option[CollectorCache] = Some(Searcher.sharedCache)
) {
  import PostingUdfs._

  private def spark = reader.spark

  private def avgdl(field: String): Double =
    reader.fieldStats.get(field).map(_.avgdl).getOrElse(0.0)
  private def totalDocs(field: String): Long =
    reader.fieldStats.get(field).map(_.nDocs).getOrElse(0L)

  /** All (field, term) pairs needed to score a resolved query tree. */
  private def collectTerms(q: Query): Seq[(String, String)] = q match {
    case TermQuery(f, v)       => Seq((f, v))
    case PhraseQuery(f, ts, _) => ts.map { case (_, t) => (f, t) }
    case BooleanQuery(cs, _)   => cs.flatMap { case (_, c) => collectTerms(c) }
    case BoostQuery(c, _)      => collectTerms(c)
    case DisjunctionMaxQuery(ds, _) => ds.flatMap(collectTerms)
    case _                     => Nil
  }

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
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row], WandTopK.outSchema)

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

  /** Scored docs of one term on a `raw`/`raw_ci` field whose value is
    * stored in the docs table ([[fastTermCi]]), in a tree whose terms all
    * are ([[blockPlan]]): answered from the docs scan, not the posting blocks.
    * Score-identical by construction: a raw field has exactly one token per
    * non-empty value, so tf = 1 and the quantized fieldnorm length is 1 for
    * every match; df/N/avgdl come from the same stats tables and the score is
    * the same [[BM25.scoreCol]] op sequence (SearchSpec pins bitwise equality
    * vs the posting plan). On a head term (lang:en, ~25% of all docs) this
    * replaces the engine's densest posting-block scan with a pruned,
    * cache-primed column filter — the difference between a
    * bandwidth-fragile multi-second scan and a sub-second probe at 800k
    * pages, compounding at 100x.
    */
  private def rawTermHits(field: String, term: String, dfs: Map[(String, String), Long]): DataFrame = {
    val df = dfs.getOrElse((field, term), 0L)
    if (df == 0L) return emptyHits
    // df > 0 guarantees the term was indexed, so matches are exactly the
    // docs whose (optionally lowercased) stored value equals the term;
    // null/empty stored values can never equal a non-empty indexed term.
    val pred = if (fastTermCi(field).contains(true)) lower(col(field)) === term else col(field) === term
    reader.docs
      .filter(pred)
      .select(
        col("segment_id"),
        col("doc_id"),
        BM25.scoreCol(lit(1), lit(graft.index.FieldNorm.encode(1L)), BM25.idf(df, totalDocs(field)),
          avgdl(field), fieldnorms).as("score"))
  }

  /** `q`'s one routing decision, its kernel tree ([[WandTopK.tree]]):
    * terms and phrases are posting leaves, every other leaf (range, exists,
    * all, empty, regex, term-range) is an [[WandTopK.Opaque]] leaf scored by
    * its own plan ([[leafHits]]) — and so is every term when all of them sit
    * on raw stored fields, whose docs-scan fast path in rawTermHits is a
    * pruned column filter, cheaper than the posting block walk. [[topDocs]],
    * [[plan]] and [[explainTopDocs]] route on it: a bare Opaque leaf runs its
    * own plan, a [[WandTopK.walkable]] tree the driver walk, and any other
    * tree the kernel's full-result plan.
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

  private def constHits(pred: Column): DataFrame =
    reader.docs.filter(pred).select(col("segment_id"), col("doc_id"), lit(1.0).as("score"))

  /** `q`'s scored doc set `(segment_id, doc_id, score)`, tombstoned docs
    * included: a bare docs-table leaf's own plan ([[leafHits]]), or the block
    * kernel's ([[WandTopK.hits]]) for every tree (see [[blockPlan]]).
    */
  def plan(q: Query, dfs: Map[(String, String), Long]): DataFrame = blockPlan(q) match {
    case WandTopK.Opaque(leaf)                     => leafHits(leaf, dfs)
    case p if p.pairs.isEmpty && p.opaques.isEmpty => emptyHits // a tree without leaves
    case p                                         => WandTopK.hits(this, p, dfs)
  }

  /** The direct plan of a docs-table leaf (a raw term: the docs-scan fast path). */
  private[search] def leafHits(q: Query, dfs: Map[(String, String), Long]): DataFrame = q match {
    case AllQuery        => reader.docs.select(col("segment_id"), col("doc_id"), lit(1.0).as("score"))
    case TermQuery(f, v) => rawTermHits(f, v, dfs)
    case rq: RangeQuery  => constHits(rangePredicate(rq))
    case TermRangeQuery(f, lo, hi, il, iu) =>
      val t = col("term")
      val conds = Seq(Some(col("field") === f),
        lo.map(v => if (il) t >= v else t > v),
        hi.map(v => if (iu) t <= v else t < v)).flatten
      postingDocs(conds.reduce(_ && _))
    case ExistsQuery(f) =>
      val docsSchema = reader.docs.schema.fieldNames.toSet
      if (docsSchema.contains(s"len_$f")) constHits(col(s"len_$f") > 0)
      else if (docsSchema.contains(f)) constHits(col(f).isNotNull)
      else emptyHits
    case RegexQuery(f, pat)     => postingDocs(col("field") === f && col("term").rlike(pat))
    case mq: MatchQuery         => plan(resolve(mq), dfs)
    case mlt: MoreLikeThisQuery => plan(resolve(mlt), dfs)
    case _                      => emptyHits // EmptyQuery, a phrase without terms
  }

  /** The docs holding any term the `terms` predicate matches, const-scored:
    * an ids-only posting decode.
    */
  private def postingDocs(terms: Column): DataFrame =
    reader.postings
      .filter(terms)
      .select(col("segment_id"), explode(unpackIds(col("doc_ids"), col("doc_count"))).as("doc_id"))
      .distinct()
      .withColumn("score", lit(1.0))

  /** Scored doc-set of a query: (segment_id, doc_id, score), tombstoned docs
    * excluded (reference: delete-by-query tombstones,
    * `index_writer_holder.rs:99-105`).
    */
  def search(q: Query): DataFrame = {
    val rq = resolve(q)
    val dfs = reader.termDfs(collectTerms(rq).distinct)
    reader.applyDeletes(plan(rq, dfs))
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
    * address asc — `fruit_extractors.rs:101-122`). The exhaustive route
    * plans as TakeOrderedAndProject (per-partition top-k + driver merge);
    * the WAND route merges on the driver in the same single pass, the
    * reference's per-segment collect + merge_fruits.
    */
  def topDocs(q: Query, limit: Int, offset: Int = 0): DataFrame = {
    val rq = resolve(q)
    blockPlan(rq) match {
      // a walkable tree takes block-max WAND: one lookup collects the plan's
      // posting blocks, the driver prunes, scores, drops tombstoned docs and
      // pages them, and the hits come back as a local relation (a pure
      // optimization: result-identical, verified in tests)
      case p if WandTopK.walkable(p) =>
        WandTopK.run(this, p, offset + limit).toDF(spark, offset)
      case _ =>
        val top = search(rq)
          .orderBy(col("score").desc, col("segment_id").asc, col("doc_id").asc)
          .limit(offset + limit)
        if (offset == 0) top
        else {
          // the window only ever sees offset+limit rows (post-TakeOrdered)
          val w = org.apache.spark.sql.expressions.Window
            .orderBy(col("score").desc, col("segment_id").asc, col("doc_id").asc)
          top
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") > offset)
            .drop("__rn")
        }
    }
  }

  /** SERVING-path top docs: probe the collector cache before planning any
    * Spark job (the reference's probe-before-search,
    * `index_holder.rs:460-505`); a repeated query inside the TTL returns the
    * cached block slice with zero jobs. Returns (rows, has_next).
    */
  def collectTopDocs(q: Query, limit: Int, offset: Int = 0): (Array[org.apache.spark.sql.Row], Boolean) =
    collectorCache match {
      case Some(c) => c.topDocs(this, q, limit, offset)
      case None =>
        val page = Collectors.topDocs(this, q, limit, offset)
        (page.rows, page.hasNext)
    }

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
    case rq =>
      reader.applyDeletes(plan(rq, reader.termDfs(collectTerms(rq).distinct))).count()
  }

  /** SERVING-path count/facets/aggregation: probe the collector cache before
    * planning any Spark job, like [[collectTopDocs]] — the reference caches
    * every cacheable collector's fruit, not only top-docs
    * (`collector_cache.rs:7-109`, wiring `index_holder.rs:460-505`).
    * Repeated requests inside the TTL return the stored fruit with zero
    * jobs; a commit invalidates via the snapshot-versioned key.
    */
  def collectCount(q: Query): Long = collectorCache match {
    case Some(c) =>
      c.fruit(this, q, "Count") {
        Array(org.apache.spark.sql.Row(count(q)))
      }.head.getLong(0)
    case None => count(q)
  }

  /** Cached facet counts fruit (rows of `(path, cnt)`). */
  def collectFacetCounts(q: Query, facetField: String, root: String): Array[org.apache.spark.sql.Row] =
    collectorCache match {
      case Some(c) =>
        c.fruit(this, q, s"Facet{$facetField,$root}") {
          Collectors.facetCounts(searchWithDocs(q), facetField, root).collect()
        }
      case None => Collectors.facetCounts(searchWithDocs(q), facetField, root).collect()
    }

  /** Cached aggregation fruit — the Agg case class's structural toString is
    * the collector descriptor, exactly the reference's per-collector key.
    */
  def collectAggregate(q: Query, agg: Collectors.Agg): Array[org.apache.spark.sql.Row] =
    collectorCache match {
      case Some(c) =>
        c.fruit(this, q, s"Agg{$agg}") {
          Collectors.aggregate(searchWithDocs(q), agg).collect()
        }
      case None => Collectors.aggregate(searchWithDocs(q), agg).collect()
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
    * by its own plan (a docs-scan raw term one `term` row). Routed by
    * [[blockPlan]]: a walkable tree is explained from the blocks its top-k
    * walk decoded, in that walk's one lookup; any other query's top-k hits are
    * explained in their block groups by [[WandTopK.explainHits]].
    */
  def explainTopDocs(q: Query, limit: Int, offset: Int = 0): DataFrame = {
    val rq = resolve(q)
    val explained = blockPlan(rq) match {
      case p if WandTopK.walkable(p) => WandTopK.explain(this, p, offset + limit).drop(offset)
      case p =>
        WandTopK.explainHits(this, p, reader.termDfs(collectTerms(rq).distinct),
          topDocs(rq, limit, offset).collect().toSeq)
    }
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
  /** Process-wide collector cache shared by default across searchers
    * (reference: one `CollectorCache` per index holder; keys embed index dir
    * + snapshot version, so one map serves all).
    */
  lazy val sharedCache: CollectorCache = new CollectorCache()
}
