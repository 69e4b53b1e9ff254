package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.analysis.Analyzers
import graft.index.{IndexSchema, PostingCodec}

/** Posting-block decoders exposed to Spark plans. */
object PostingUdfs {
  final case class PEntry(doc_id: Int, tf: Int, norm_id: Int)
  final case class PEntryPos(doc_id: Int, tf: Int, norm_id: Int, positions: Array[Int])

  val unpack: UserDefinedFunction =
    udf((docIds: Array[Byte], tfs: Array[Byte], norms: Array[Byte], n: Int) => {
      val ids = PostingCodec.unpackDocIds(docIds, n)
      val tf = PostingCodec.unpackVarInts(tfs, n)
      Array.tabulate(n)(i => PEntry(ids(i), tf(i), norms(i) & 0xFF))
    })

  /** Ids-only decode for unscored membership paths (term-range, regex):
    * skips the tf/norm varint decodes AND lets Catalyst prune the `tfs` /
    * `norms` columns out of the parquet scan entirely (guide §2.3 / §6 —
    * the full `unpack` struct forces all three binary columns to be read
    * even when only `.doc_id` is consumed).
    */
  val unpackIds: UserDefinedFunction =
    udf((docIds: Array[Byte], n: Int) => PostingCodec.unpackDocIds(docIds, n))

  val unpackPos: UserDefinedFunction =
    udf((docIds: Array[Byte], tfs: Array[Byte], norms: Array[Byte], pos: Array[Byte], n: Int) => {
      val ids = PostingCodec.unpackDocIds(docIds, n)
      val tf = PostingCodec.unpackVarInts(tfs, n)
      val ps = PostingCodec.unpackPositions(pos, tf)
      Array.tabulate(n)(i => PEntryPos(ids(i), tf(i), norms(i) & 0xFF, ps(i)))
    })

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
    val first = positionsPerTerm.head
    val base0 = offsets.head
    if (slop == 0) {
      val rest = positionsPerTerm.tail.zip(offsets.tail)
      first.count { p0 =>
        val base = p0 - base0
        rest.forall { case (ps, off) =>
          java.util.Arrays.binarySearch(ps.toArray, base + off) >= 0
        }
      }
    } else {
      // normalized, sorted positions per non-base term
      val normed: Seq[Array[Int]] = positionsPerTerm.tail.zip(offsets.tail).map {
        case (ps, off) => ps.map(_ - off).toArray.sorted
      }
      def hasInWindow(ns: Array[Int], lo: Int, hi: Int): Boolean = {
        val idx = java.util.Arrays.binarySearch(ns, lo)
        val ins = if (idx >= 0) idx else -idx - 1
        ins < ns.length && ns(ins) <= hi
      }
      first.count { p0 =>
        val n0 = p0 - base0
        // spread <= slop  ⟺  some length-slop window [w, w+slop] containing
        // n0 covers one normalized position of every term
        (n0 - slop to n0).exists(w => normed.forall(ns => hasInWindow(ns, w, w + slop)))
      }
    }
  }

  val phraseTfUdf: UserDefinedFunction =
    udf((pos: Seq[Seq[Int]], offsets: Seq[Int], slop: Int) => phraseTf(pos, offsets, slop))

  /** The matched base-term positions (pre-filter ordinals) — the phrase's
    * alignment windows, for per-hit explain. Same match predicate as
    * [[phraseTf]] (result length == phraseTf); kept separate so the per-doc
    * scoring path stays allocation-free while this runs only over the k
    * explained hits.
    */
  def phraseMatchPositions(
      positionsPerTerm: Seq[Seq[Int]], offsets: Seq[Int], slop: Int): Array[Int] = {
    val first = positionsPerTerm.head
    val base0 = offsets.head
    if (slop == 0) {
      val rest = positionsPerTerm.tail.zip(offsets.tail).map { case (ps, off) => (ps.toArray, off) }
      first.iterator.filter { p0 =>
        val base = p0 - base0
        rest.forall { case (ps, off) => java.util.Arrays.binarySearch(ps, base + off) >= 0 }
      }.toArray
    } else {
      val normed: Seq[Array[Int]] = positionsPerTerm.tail.zip(offsets.tail).map {
        case (ps, off) => ps.map(_ - off).toArray.sorted
      }
      def hasInWindow(ns: Array[Int], lo: Int, hi: Int): Boolean = {
        val idx = java.util.Arrays.binarySearch(ns, lo)
        val ins = if (idx >= 0) idx else -idx - 1
        ins < ns.length && ns(ins) <= hi
      }
      first.iterator.filter { p0 =>
        val n0 = p0 - base0
        (n0 - slop to n0).exists(w => normed.forall(ns => hasInWindow(ns, w, w + slop)))
      }.toArray
    }
  }

  val phraseMatchPositionsUdf: UserDefinedFunction =
    udf((pos: Seq[Seq[Int]], offsets: Seq[Int], slop: Int) =>
      phraseMatchPositions(pos, offsets, slop))
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

  private def emptyHits: DataFrame = {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(
      StructField("segment_id", IntegerType),
      StructField("doc_id", IntegerType),
      StructField("score", DoubleType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
  }

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

  /** Scored postings of one term.
    *
    * Single-token-field fast path: a TermQuery on a `raw`/`raw_ci` field
    * whose value is stored in the docs table is answered from the docs scan
    * instead of the posting unpack+explode. Score-identical by construction:
    * a raw field has exactly one token per non-empty value, so tf = 1 and the
    * quantized fieldnorm length is 1 for every match; df/N/avgdl come from
    * the same stats tables and the score is the same [[BM25.scoreCol]] op
    * sequence (SearchSpec pins bitwise equality vs the posting plan). On a
    * head term (lang:en, ~25% of all docs) this replaces the engine's densest
    * posting-block scan with a pruned, cache-primed column filter — the
    * difference between a bandwidth-fragile multi-second scan and a
    * sub-second probe at 800k pages, compounding at 100x.
    */
  private def termHits(field: String, term: String, dfs: Map[(String, String), Long], boost: Double = 1.0): DataFrame = {
    val df = dfs.getOrElse((field, term), 0L)
    if (df == 0L) return emptyHits
    val idf = BM25.idf(df, totalDocs(field))
    fastTermCi(field) match {
      case Some(ci) =>
        // df > 0 guarantees the term was indexed, so matches are exactly the
        // docs whose (optionally lowercased) stored value equals the term;
        // null/empty stored values can never equal a non-empty indexed term.
        val pred = if (ci) lower(col(field)) === term else col(field) === term
        reader.docs
          .filter(pred)
          .select(
            col("segment_id"),
            col("doc_id"),
            (BM25.scoreCol(lit(1), lit(graft.index.FieldNorm.encode(1L)), idf, avgdl(field), fieldnorms) * lit(boost))
              .as("score")
          )
      case None =>
        reader.postings
          .filter(col("field") === field && col("term") === term)
          .select(col("segment_id"), explode(unpack(col("doc_ids"), col("tfs"), col("norms"), col("doc_count"))).as("p"))
          .select(
            col("segment_id"),
            col("p.doc_id").as("doc_id"),
            (BM25.scoreCol(col("p.tf"), col("p.norm_id"), idf, avgdl(field), fieldnorms) * lit(boost)).as("score")
          )
    }
  }

  /** Phrase candidates via the block-aligned join (r6): positional posting
    * BLOCK rows join on `(segment_id, block_id)` — one row per (term, block)
    * instead of one per (doc, term) — and the doc intersection + alignment
    * ([[PostingUdfs.phraseTf]], the same function the exploded plan applied)
    * runs inside the matched block. Result-identical: a doc holding all
    * terms sits in the same block in each term's postings, the norm comes
    * from the first term's row exactly as before, and the score column is
    * the same [[BM25.scoreCol]] over the same ints.
    */
  private def phraseHits(pq: PhraseQuery, dfs: Map[(String, String), Long]): DataFrame = {
    val PhraseQuery(field, terms, slop) = pq
    if (terms.isEmpty) return emptyHits
    if (terms.size == 1) return termHits(field, terms.head._2, dfs)
    if (terms.exists { case (_, t) => dfs.getOrElse((field, t), 0L) == 0L }) return emptyHits
    // sum of per-term idfs (Lucene/tantivy multi-term phrase weight)
    val n = totalDocs(field)
    val sumIdf = terms.map { case (_, t) => BM25.idf(dfs((field, t)), n) }.sum
    val offsets = terms.map(_._1)
    BlockJoin.phraseMatches(reader, field, terms.map(_._2), offsets, slop)
      .select(
        col("segment_id"),
        col("doc_id"),
        BM25.scoreCol(col("phrase_tf"), col("norm_id"), sumIdf, avgdl(field), fieldnorms).as("score")
      )
  }

  private def boolHits(bq: BooleanQuery, dfs: Map[(String, String), Long]): DataFrame = {
    val shouldDfs = bq.should.map(plan(_, dfs))
    val notDfs = bq.mustNot.map(plan(_, dfs))

    // block-aligned conjunction (r6): when every must clause is a plain
    // posting-backed term, join the PACKED block rows on (segment_id,
    // block_id) and intersect inside the block instead of sort-merge-joining
    // per-occurrence exploded rows — ~blockSpan× less shuffle, same result
    // (scored with the same BM25.scoreCol columns, summed in clause order).
    val mustTermSpecs = bq.must.collect {
      case TermQuery(f, v) if fastTermCi(f).isEmpty => (f, v)
    }
    val blockMust = mustTermSpecs.size == bq.must.size && mustTermSpecs.size >= 2

    val shouldAgg: Option[DataFrame] =
      if (shouldDfs.isEmpty) None
      else
        Some(
          shouldDfs
            .reduce(_ unionByName _)
            .groupBy(keys.map(col): _*)
            .agg(sum("score").as("score"),
                 org.apache.spark.sql.functions.count(lit(1)).as("should_matched"))
        )

    var base: DataFrame =
      if (bq.must.nonEmpty) {
        val withMust = if (blockMust) {
          val scoreCols = mustTermSpecs.zipWithIndex.map { case ((f, t), i) =>
            BM25.scoreCol(
              element_at(col("tfs"), i + 1), element_at(col("norms"), i + 1),
              BM25.idf(dfs.getOrElse((f, t), 0L), totalDocs(f)), avgdl(f), fieldnorms)
          }
          BlockJoin.mustTerms(reader, mustTermSpecs)
            .select(col("segment_id"), col("doc_id"), scoreCols.reduce(_ + _).as("score"))
        } else {
          val mustDfs = bq.must.map(plan(_, dfs))
          val joined = mustDfs.zipWithIndex
            .map { case (d, i) => d.withColumnRenamed("score", s"__s$i") }
            .reduce((a, b) => a.join(b, keys, "inner"))
          val total = mustDfs.indices.map(i => col(s"__s$i")).reduce(_ + _)
          joined.select(col("segment_id"), col("doc_id"), total.as("score"))
        }
        shouldAgg match {
          case Some(sa) =>
            val minMatch = bq.minimumShouldMatch.getOrElse(0)
            val saR = sa.select(
              col("segment_id"), col("doc_id"),
              col("score").as("__ss"), col("should_matched"))
            val j = withMust.join(saR, keys, "left")
            val filtered =
              if (minMatch > 0) j.filter(coalesce(col("should_matched"), lit(0L)) >= minMatch) else j
            filtered.select(
              col("segment_id"), col("doc_id"),
              (col("score") + coalesce(col("__ss"), lit(0.0))).as("score"))
          case None => withMust
        }
      } else {
        shouldAgg match {
          case Some(sa) =>
            val minMatch = math.max(bq.minimumShouldMatch.getOrElse(1), 1)
            sa.filter(col("should_matched") >= minMatch)
              .select(col("segment_id"), col("doc_id"), col("score"))
          case None => emptyHits
        }
      }

    if (notDfs.nonEmpty) {
      val excluded = notDfs.reduce(_ unionByName _).select(keys.map(col): _*).distinct()
      base = base.join(excluded, keys, "left_anti")
    }
    base
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

  def plan(q: Query, dfs: Map[(String, String), Long]): DataFrame = q match {
    case EmptyQuery          => emptyHits
    case AllQuery            => reader.docs.select(col("segment_id"), col("doc_id"), lit(1.0).as("score"))
    case tq: TermQuery       => termHits(tq.field, tq.value, dfs)
    case pq: PhraseQuery     => phraseHits(pq, dfs)
    case bq: BooleanQuery    => boolHits(bq, dfs)
    case BoostQuery(c, b)    => plan(c, dfs).withColumn("score", col("score") * lit(b))
    case DisjunctionMaxQuery(ds, tb) =>
      if (ds.isEmpty) emptyHits
      else
        ds.map(plan(_, dfs))
          .reduce(_ unionByName _)
          .groupBy(keys.map(col): _*)
          .agg(max("score").as("__mx"), sum("score").as("__sm"))
          .select(
            col("segment_id"), col("doc_id"),
            (col("__mx") + lit(tb) * (col("__sm") - col("__mx"))).as("score"))
    case rq: RangeQuery      => constHits(rangePredicate(rq))
    case TermRangeQuery(f, lo, hi, il, iu) =>
      val t = col("term")
      val conds = Seq(Some(col("field") === f),
        lo.map(v => if (il) t >= v else t > v),
        hi.map(v => if (iu) t <= v else t < v)).flatten
      reader.postings
        .filter(conds.reduce(_ && _))
        .select(col("segment_id"), explode(unpackIds(col("doc_ids"), col("doc_count"))).as("doc_id"))
        .distinct()
        .withColumn("score", lit(1.0))
    case ExistsQuery(f) =>
      val docsSchema = reader.docs.schema.fieldNames.toSet
      if (docsSchema.contains(s"len_$f")) constHits(col(s"len_$f") > 0)
      else if (docsSchema.contains(f)) constHits(col(f).isNotNull)
      else emptyHits
    case RegexQuery(f, pat) =>
      reader.postings
        .filter(col("field") === f && col("term").rlike(pat))
        .select(col("segment_id"), explode(unpackIds(col("doc_ids"), col("doc_count"))).as("doc_id"))
        .distinct()
        .withColumn("score", lit(1.0))
    case mq: MatchQuery         => plan(resolve(mq), dfs)
    case mlt: MoreLikeThisQuery => plan(resolve(mlt), dfs)
  }

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
    WandTopK.eligible(rq) match {
      // same-field term bags and term dismax take block-max WAND: one job
      // collects the bag's posting blocks, the driver prunes, scores and
      // pages them, and the hits come back as a local relation (a pure
      // optimization: result-identical, verified in tests). Raw stored
      // fields skip it: the docs-scan fast path in termHits is already a
      // pruned column filter, cheaper than the posting block walk
      case Some(bag) if reader.deletes.isEmpty && fieldnorms && fastTermCi(bag.field).isEmpty =>
        WandTopK.run(this, bag, offset + limit).toDF(spark, offset)
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
        val rows = topDocs(q, limit + 1, offset).collect()
        (rows.take(limit), rows.length > limit)
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
    * tombstone-free index is answered straight from the per-segment termstats
    * — df summed over live segments IS the matched-doc count (each doc
    * containing the term contributes exactly 1 to its segment's df, and with
    * no deletes there is nothing to subtract), for posting-backed and raw
    * fast-path fields alike. One pruned stats probe, zero posting IO or
    * decode. Any other query shape, or any tombstones, falls back to
    * counting the scored doc-set (identical by the argument above, pinned in
    * SearchSpec).
    */
  def count(q: Query): Long = resolve(q) match {
    case TermQuery(f, v) if reader.deletes.isEmpty =>
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

  /** Scoring leaves of a resolved query tree, for [[explainTopDocs]]:
    * term leaves carry (field, term, cumulativeBoost, kind); phrase clauses
    * stay WHOLE leaves (a phrase scores as one pseudo-term — tf = alignment
    * count, idf = Σ term idfs — so decomposing it into per-term rows could
    * never sum to the score). MustNot branches never contribute score. A
    * single-term phrase plans as a plain term and explains as one.
    */
  private sealed trait ExplainLeaf
  private final case class TermLeaf(field: String, term: String, boost: Double, kind: String)
      extends ExplainLeaf
  private final case class PhraseLeaf(pq: PhraseQuery, boost: Double) extends ExplainLeaf

  private def scoreLeaves(q: Query, boost: Double): Seq[ExplainLeaf] =
    q match {
      case TermQuery(f, v) => Seq(TermLeaf(f, v, boost, "term"))
      case PhraseQuery(f, ts, _) if ts.size == 1 =>
        Seq(TermLeaf(f, ts.head._2, boost, "term"))
      case pq: PhraseQuery => Seq(PhraseLeaf(pq, boost))
      case BooleanQuery(cs, _) =>
        cs.collect { case (o, c) if o != Occur.MustNot => scoreLeaves(c, boost) }.flatten
      case BoostQuery(c, b)           => scoreLeaves(c, boost * b)
      case DisjunctionMaxQuery(ds, _) => ds.flatMap(scoreLeaves(_, boost))
      case _                          => Nil
    }

  /** One leaf term's per-doc score decomposition: tf, fieldnorm, idf, boost
    * and the resulting BM25 contribution.
    */
  private def termDetail(
      field: String, term: String, boost: Double, kind: String,
      dfs: Map[(String, String), Long]): Option[DataFrame] = {
    val df = dfs.getOrElse((field, term), 0L)
    if (df == 0L) return None
    val idf = BM25.idf(df, totalDocs(field))
    Some(reader.postings
      .filter(col("field") === field && col("term") === term)
      .select(col("segment_id"),
        explode(unpack(col("doc_ids"), col("tfs"), col("norms"), col("doc_count"))).as("p"))
      .select(
        col("segment_id"), col("p.doc_id").as("doc_id"),
        lit(field).as("field"), lit(term).as("term"), lit(kind).as("kind"),
        col("p.tf").as("tf"), col("p.norm_id").as("norm_id"),
        lit(idf).as("idf"), lit(boost).as("boost"),
        (BM25.scoreCol(col("p.tf"), col("p.norm_id"), idf, avgdl(field), fieldnorms) *
          lit(boost)).as("contribution"),
        lit(null).cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType)).as("positions")))
  }

  /** One phrase leaf's per-doc decomposition: the phrase scores as a single
    * pseudo-term (tf = number of matching alignment windows, idf = Σ of the
    * member terms' idfs — `phraseHits` semantics, Lucene/tantivy phrase
    * weight), so its contribution column is EXACTLY the clause's score and
    * sums with sibling leaves. `positions` lists the matched base-term
    * alignment positions (pre-filter ordinals), the reference's matched-
    * window detail.
    */
  private def phraseDetail(
      pq: PhraseQuery, boost: Double,
      dfs: Map[(String, String), Long]): Option[DataFrame] = {
    val PhraseQuery(field, terms, slop) = pq
    if (terms.isEmpty) return None
    if (terms.exists { case (_, t) => dfs.getOrElse((field, t), 0L) == 0L }) return None
    val n = totalDocs(field)
    val sumIdf = terms.map { case (_, t) => BM25.idf(dfs((field, t)), n) }.sum
    val offsets = terms.map(_._1)
    val phraseText =
      terms.map(_._2).mkString("\"", " ", "\"") + (if (slop > 0) s"~$slop" else "")
    // block-aligned candidate join (r6) — scoreLeaves guarantees ≥2 terms
    // here (a single-term phrase explains as a TermLeaf); __mpos comes from
    // the same phraseMatchPositions function the exploded plan applied
    Some(BlockJoin.phraseDetailMatches(reader, field, terms.map(_._2), offsets, slop)
      .select(
        col("segment_id"), col("doc_id"),
        lit(field).as("field"), lit(phraseText).as("term"), lit("phrase").as("kind"),
        size(col("__mpos")).as("tf"), col("norm_id").as("norm_id"),
        lit(sumIdf).as("idf"), lit(boost).as("boost"),
        (BM25.scoreCol(size(col("__mpos")), col("norm_id"), sumIdf, avgdl(field), fieldnorms) *
          lit(boost)).as("contribution"),
        col("__mpos").as("positions")))
  }

  /** Top-k with a per-hit `explain` JSON column (reference: the
    * `TopDocsCollector.explain` flag, `query.proto:245-246`) — each hit's
    * score decomposed into leaf-term BM25 contributions `(field, term, tf,
    * fieldnorm id, idf, boost, contribution)`. `term` leaves sum exactly to
    * the score for pure term/boolean/boost trees; `phrase-term` and dismax
    * leaves are informational (the combined score is not their plain sum).
    * The k-row hit set broadcasts into the detail join, so explain costs one
    * extra pushed-down scan of the query's terms — not a rescore.
    */
  def explainTopDocs(q: Query, limit: Int, offset: Int = 0): DataFrame = {
    val rq = resolve(q)
    val dfs = reader.termDfs(collectTerms(rq).distinct)
    val top = topDocs(rq, limit, offset)
    val details = scoreLeaves(rq, 1.0).distinct.flatMap {
      case TermLeaf(f, t, b, k) => termDetail(f, t, b, k, dfs)
      case PhraseLeaf(pq, b)    => phraseDetail(pq, b, dfs)
    }
    if (details.isEmpty)
      return top.withColumn(
        "explain",
        to_json(struct(col("score").as("value"), lit("constant score").as("description"))))
    val joined = details.reduce(_ unionByName _)
      .join(broadcast(top.select(keys.map(col): _*)), keys, "inner")
    top
      .join(
        joined
          .groupBy(keys.map(col): _*)
          .agg(array_sort(collect_list(struct(
            col("field"), col("term"), col("kind"), col("tf"), col("norm_id"),
            col("idf"), col("boost"), col("contribution"), col("positions")))).as("details")),
        keys, "left")
      .select(
        col("segment_id"), col("doc_id"), col("score"),
        to_json(struct(
          col("score").as("value"),
          lit("sum of leaf contributions (term+phrase exact; dismax informational)")
            .as("description"),
          col("details"))).as("explain"))
      .orderBy(col("score").desc, col("segment_id").asc, col("doc_id").asc)
  }
}

object Searcher {
  /** Process-wide collector cache shared by default across searchers
    * (reference: one `CollectorCache` per index holder; keys embed index dir
    * + snapshot version, so one map serves all).
    */
  lazy val sharedCache: CollectorCache = new CollectorCache()
}
