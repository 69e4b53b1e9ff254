package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.index.IndexSchema
import graft.search.{IndexReader, IndexRegistry, MatchQuery, Searcher}

/** SQL table functions over graft indexes, so every search operator is
  * demo-able from plain `spark.sql`:
  *
  * {{{
  *   SELECT * FROM search_top('/data/idx', 'body42 +lang:en', 10)
  *   SELECT * FROM search_top(index => '/data/idx', query => 'body42', k => 10)
  *   SELECT lang, count(*) FROM search('/data/idx', 'body42') GROUP BY lang
  *   SELECT * FROM index_docs('/data/idx') WHERE lang = 'en'
  *   SELECT * FROM search_agg('/data/idx', 'body42', '{"by_lang":{"terms":{"field":"lang"}}}')
  * }}}
  *
  * Arguments bind positionally or by SQL-standard `name => value` named
  * arguments (positional prefix first, named in any order after).
  *
  * The first argument is a registered index name/alias
  * ([[GraftSql.registry]]) or an index directory; directories self-describe
  * via the `_schema.json` written at build time. The query string is full
  * SummaQL (reference grammar `summa-core/src/query_parser/summa_ql.rs`), so
  * phrases, ranges, json paths, boosts and boolean syntax all work.
  *
  * Two injection paths, both registering the same functions:
  *   - `GraftSql.install(spark)` on a live session (tests, notebooks);
  *   - `--conf spark.sql.extensions=graft.plans.GraftExtensions` at session
  *     build (the idiomatic cluster deployment).
  *
  * The builders run at ANALYSIS time: arguments must be constants (they are
  * folded into the plan — the same contract as the built-in `range(...)`).
  * The expanded plan is the ordinary DataFrame plan of the equivalent
  * [[Searcher]] call, so Catalyst sees through the TVF completely: filters
  * push into the parquet scans, the top-k becomes TakeOrderedAndProject.
  */
object GraftSql {

  /** Process-wide registry consulted before path resolution: `search('name',
    * …)` serves registered indexes/aliases (reference alias resolution,
    * `index_registry.rs:90-129`).
    */
  val registry: IndexRegistry = new IndexRegistry

  private val byPath = TrieMap[String, Searcher]()

  /** Short-TTL memo of each directory's latest snapshot version, so repeated
    * TVF queries within a window skip the `Snapshots.latest` filesystem
    * listing (a listStatus + JSON read — cheap locally, a real per-query
    * planning tax on object stores). An in-process commit bumps
    * `Snapshots.commitEpoch`, which is part of the memo key, so same-JVM
    * commits (the single-driver deploy) are visible on the very next query;
    * the TTL ([[probeTtlMillis]]) only bounds staleness against commits from
    * OTHER processes. [[invalidate]] drops the memo immediately.
    */
  private val probeTtlMillis = 2000L
  private val latestProbe = TrieMap[String, (Long, Long, Option[Int])]()

  private def latestVersion(
      spark: org.apache.spark.sql.SparkSession, dir: String): Option[Int] = {
    val t = System.currentTimeMillis()
    val epoch = graft.index.Snapshots.commitEpoch(dir)
    latestProbe.get(dir) match {
      case Some((at, ep, v)) if t - at <= probeTtlMillis && ep == epoch => v
      case _ =>
        val v = graft.index.Snapshots.latest(spark, dir).map(_.version)
        latestProbe.put(dir, (t, epoch, v))
        v
    }
  }

  /** Drop the cached searcher of `dir` (readers pin the snapshot they
    * opened). Rarely needed by callers: [[searcherFor]] auto-refreshes when
    * the directory's latest snapshot version moves past the cached reader's
    * pinned version — the reader reload-on-commit of the reference.
    */
  def invalidate(dir: String): Unit = { byPath.remove(dir); latestProbe.remove(dir); () }

  def searcherFor(ref: String): Searcher = {
    val spark = org.apache.spark.sql.SparkSession.active
    def fresh(): Searcher = {
      val schema = IndexSchema.load(spark, ref).getOrElse(sys.error(
        s"'$ref' is neither a registered index nor an index dir with _schema.json"))
      new Searcher(new IndexReader(spark, ref), schema)
    }
    try registry.resolve(ref)
    catch {
      case _: IllegalArgumentException =>
        byPath.get(ref) match {
          case Some(cached)
              if cached.reader.snapshot.map(_.version) == latestVersion(spark, ref) =>
            cached
          case _ =>
            latestProbe.remove(ref)
            val s = fresh()
            byPath.put(ref, s)
            s
        }
    }
  }

  private def constArg(fn: String, e: Expression, label: String): Any = {
    require(e.foldable, s"$fn: argument '$label' must be a constant")
    val v = e.eval()
    require(v != null, s"$fn: argument '$label' must not be null")
    v
  }
  private def strArg(fn: String, e: Expression, label: String): String =
    constArg(fn, e, label).toString
  private def intArg(fn: String, e: Expression, label: String): Int =
    constArg(fn, e, label) match {
      case n: java.lang.Number => n.intValue()
      case other               => sys.error(s"$fn: argument '$label' must be an integer, got $other")
    }

  /** Bind positional + named arguments (`search_top(index => …, k => 10)`)
    * to the declared parameter slots — SQL-standard named-argument rules,
    * the same contract as Spark 4's builtin TVFs: positional args first,
    * named args in any order after them, unknown/duplicate names rejected,
    * the first `required` slots mandatory.
    */
  private def bindArgs(
      fn: String, params: Seq[String], required: Int,
      args: Seq[Expression]): Seq[Option[Expression]] = {
    import org.apache.spark.sql.catalyst.expressions.NamedArgumentExpression
    val positional = args.takeWhile(!_.isInstanceOf[NamedArgumentExpression])
    val named = args.drop(positional.size)
    named.foreach(e => require(e.isInstanceOf[NamedArgumentExpression],
      s"$fn: positional arguments must precede named arguments"))
    require(positional.size <= params.size,
      s"$fn expects at most ${params.size} arguments (${params.mkString(", ")}), got ${args.size}")
    val slots = Array.fill[Option[Expression]](params.size)(None)
    positional.zipWithIndex.foreach { case (e, i) => slots(i) = Some(e) }
    named.foreach { case NamedArgumentExpression(key, value) =>
      val i = params.indexOf(key.toLowerCase(java.util.Locale.ROOT))
      require(i >= 0, s"$fn: unknown argument name '$key' (expected: ${params.mkString(", ")})")
      require(slots(i).isEmpty, s"$fn: duplicate argument '${params(i)}'")
      slots(i) = Some(value)
    }
    params.take(required).zipWithIndex.foreach { case (p, i) =>
      require(slots(i).nonEmpty, s"$fn: missing required argument '$p'")
    }
    slots.toSeq
  }

  /** name -> (builder, usage) */
  private val functions: Seq[(String, Seq[Expression] => LogicalPlan, String)] = Seq(
    (
      "search",
      args => {
        val Seq(index, query, config) =
          bindArgs("search", Seq("index", "query", "config"), 2, args)
        val s = searcherFor(strArg("search", index.get, "index"))
        s.searchWithDocs(MatchQuery(strArg("search", query.get, "query"),
          config.map(c => graft.search.ConfigPatchJson.parse(strArg("search", c, "config")))))
          .queryExecution.logical
      },
      "_FUNC_(index, query[, config]) - all matching docs (stored fields + score) of a " +
        "SummaQL query; config = proto-JSON query_parser_config override"),
    (
      "search_top",
      args => {
        val Seq(index, query, k, offset, config) =
          bindArgs("search_top", Seq("index", "query", "k", "offset", "config"), 3, args)
        val s = searcherFor(strArg("search_top", index.get, "index"))
        s.topDocsWithKeys(
          MatchQuery(strArg("search_top", query.get, "query"),
            config.map(c =>
              graft.search.ConfigPatchJson.parse(strArg("search_top", c, "config")))),
          intArg("search_top", k.get, "k"),
          offset.map(intArg("search_top", _, "offset")).getOrElse(0))
          .queryExecution.logical
      },
      "_FUNC_(index, query, k[, offset, config]) - top-k docs by BM25 with stored fields; " +
        "config = proto-JSON query_parser_config override"),
    (
      "index_docs",
      args => {
        val Seq(index) = bindArgs("index_docs", Seq("index"), 1, args)
        searcherFor(strArg("index_docs", index.get, "index")).reader.docs.queryExecution.logical
      },
      "_FUNC_(index) - the doc store of an index (live segments only)"),
    (
      "search_agg",
      args => {
        val Seq(index, query, aggs, config) =
          bindArgs("search_agg", Seq("index", "query", "aggs", "config"), 3, args)
        val s = searcherFor(strArg("search_agg", index.get, "index"))
        val parsed = graft.search.AggJson.parse(strArg("search_agg", aggs.get, "aggs"))
        require(parsed.size == 1,
          "search_agg: the request must contain exactly one aggregation " +
            "(a TVF returns one table) - issue one call per aggregation")
        graft.search.Collectors
          .aggregate(
            s.searchWithDocs(MatchQuery(strArg("search_agg", query.get, "query"),
              config.map(c =>
                graft.search.ConfigPatchJson.parse(strArg("search_agg", c, "config"))))),
            parsed.head._2)
          .queryExecution.logical
      },
      "_FUNC_(index, query, aggs_json[, config]) - an ES-style aggregation over the docs " +
        "matching a SummaQL query; config = proto-JSON query_parser_config override")
  )

  private def descriptions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan)] =
    functions.map { case (name, builder, usage) =>
      (FunctionIdentifier(name),
        new ExpressionInfo(GraftSql.getClass.getName, null, name, usage, ""),
        builder)
    }

  /** Register on a live session (temp table functions, session-scoped). */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    descriptions.foreach { case (ident, info, builder) =>
      spark.sessionState.tableFunctionRegistry.registerFunction(ident, info, builder)
    }

  private[plans] def inject(ext: SparkSessionExtensions): Unit =
    descriptions.foreach(d => ext.injectTableFunction(d))
}

/** `spark.sql.extensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = GraftSql.inject(ext)
}
