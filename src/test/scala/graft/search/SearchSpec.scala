package graft.search

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, sum}

import graft.TestSpark
import graft.analysis.Analyzers
import graft.index.{FieldDef, FieldNorm, IndexBuilder, IndexSchema}

/** End-to-end: build an index over a seeded corpus, verify every query shape
  * against a brute-force single-process oracle computing the same BM25
  * (rank- AND score-identical; the reference pins this contract in its
  * server e2e tests, `summa-server/src/services/index.rs:799-957`).
  */
class SearchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // deterministic corpus: 200 docs over a small vocab, some phrases, stopwords
  private val vocab = Vector("spark", "window", "merge", "table", "scan", "the", "a",
    "join", "filter", "query", "batch", "stream", "vector")
  private val docs: Vector[(Long, String)] = {
    val rnd = new scala.util.Random(42)
    Vector.tabulate(200) { i =>
      val n = 5 + rnd.nextInt(60)
      val words = Vector.fill(n)(vocab(rnd.nextInt(vocab.size)))
      (i.toLong, words.mkString(" "))
    }
  }

  private val schema = IndexSchema(
    keyField = "doc_id",
    fields = Seq(FieldDef("text", "summa", "position")),
    defaultFields = Seq("text"),
    storedFields = Seq("n")
  )

  private lazy val indexDir: String = {
    val dir = Files.createTempDirectory("graft-searchspec").toString
    import spark.implicits._
    val df = docs.map { case (id, t) => (id, t, t.split(' ').length) }.toDF("doc_id", "text", "n")
    IndexBuilder.build(spark, df, schema, dir, "test-build",
      IndexBuilder.BuildConf(numSegments = 3, blockBits = 4))
    dir
  }

  private lazy val searcher = new Searcher(new IndexReader(spark, indexDir), schema)

  // ---- oracle ----
  private case class OracleDoc(id: Long, terms: Map[String, Seq[Int]], len: Int)
  private lazy val oracle: Vector[OracleDoc] = docs.map { case (id, text) =>
    val toks = Analyzers.summa.tokenize(text)
    OracleDoc(id, toks.groupBy(_.text).map { case (t, ts) => t -> ts.map(_.position) }, toks.size)
  }
  private lazy val nDocs = oracle.size.toLong
  private lazy val avgdl = oracle.map(_.len.toLong).sum.toDouble / nDocs
  private def df(term: String): Long = oracle.count(_.terms.contains(term)).toLong
  private def oracleScore(term: String, d: OracleDoc): Option[Double] =
    d.terms.get(term).map { ps =>
      val idf = BM25.idf(df(term), nDocs)
      val tf = ps.size.toDouble
      val len = FieldNorm.decode(FieldNorm.encode(d.len.toLong)).toDouble
      idf * (tf * (BM25.K1 + 1)) / (tf + BM25.K1 * ((1 - BM25.B) + BM25.B * len / avgdl))
    }

  /** (key → score) from the engine for a query. */
  private def engineScores(q: Query): Map[Long, Double] = {
    val hits = searcher.search(q)
    val keyed = searcher.reader.docs
      .select(org.apache.spark.sql.functions.col("segment_id"),
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("key"))
      .join(hits, Seq("segment_id", "doc_id"))
    keyed.collect().map(r => r.getAs[String]("key").toLong -> r.getAs[Double]("score")).toMap
  }

  private def assertScoresEqual(got: Map[Long, Double], want: Map[Long, Double]): Unit = {
    assert(got.keySet == want.keySet, s"doc sets differ: extra=${got.keySet -- want.keySet} missing=${want.keySet -- got.keySet}")
    got.foreach { case (k, s) =>
      assert(math.abs(s - want(k)) < 1e-9, s"score mismatch for doc $k: got $s want ${want(k)}")
    }
  }

  test("term query is rank- and score-identical to oracle") {
    for (term <- Seq("spark", "vector", "scan")) {
      val want = oracle.flatMap(d => oracleScore(term, d).map(d.id -> _)).toMap
      assertScoresEqual(engineScores(TermQuery("text", term)), want)
    }
  }

  test("stop words score nothing (filtered at index time)") {
    assert(engineScores(TermQuery("text", "the")).isEmpty)
  }

  test("boolean must = intersection with summed scores") {
    val q = BooleanQuery(Seq(
      (Occur.Must, TermQuery("text", "spark")),
      (Occur.Must, TermQuery("text", "window"))))
    val want = oracle.flatMap { d =>
      for (a <- oracleScore("spark", d); b <- oracleScore("window", d)) yield d.id -> (a + b)
    }.toMap
    assertScoresEqual(engineScores(q), want)
  }

  test("block-aligned must conjunction is bitwise-identical to joining scored term sets") {
    import org.apache.spark.sql.functions.col
    // the pre-r6 exhaustive plan, expressed over the unchanged single-term
    // path: per-occurrence scored sets joined on (segment_id, doc_id) with
    // left-associated score sum — the block-join plan must reproduce these
    // doubles BITWISE (the oracle-hash contract depends on it)
    def old(terms: Seq[String]): Map[(Int, Int), Double] = {
      val scored = terms.zipWithIndex.map { case (t, i) =>
        searcher.search(TermQuery("text", t)).withColumnRenamed("score", s"__s$i")
      }
      val joined = scored.reduce((a, b) => a.join(b, Seq("segment_id", "doc_id"), "inner"))
      val total = terms.indices.map(i => col(s"__s$i")).reduce(_ + _)
      joined.select(col("segment_id"), col("doc_id"), total.as("score"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    }
    for (terms <- Seq(Seq("spark", "window"), Seq("spark", "merge", "table"))) {
      val q = BooleanQuery(terms.map(t => (Occur.Must, TermQuery("text", t): Query)))
      val got = searcher.search(q)
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      val want = old(terms)
      assert(got.keySet == want.keySet)
      got.foreach { case (k, s) =>
        assert(s == want(k), s"score not bitwise-identical for $k: $s vs ${want(k)}")
      }
      assert(got.nonEmpty)
    }
  }

  test("boolean should = union with summed scores") {
    val q = BooleanQuery(Seq(
      (Occur.Should, TermQuery("text", "spark")),
      (Occur.Should, TermQuery("text", "window"))))
    val want = oracle.flatMap { d =>
      val parts = Seq(oracleScore("spark", d), oracleScore("window", d)).flatten
      if (parts.isEmpty) None else Some(d.id -> parts.sum)
    }.toMap
    assertScoresEqual(engineScores(q), want)
  }

  test("boolean must_not excludes docs, scores unchanged") {
    val q = BooleanQuery(Seq(
      (Occur.Should, TermQuery("text", "spark")),
      (Occur.MustNot, TermQuery("text", "window"))))
    val want = oracle.flatMap { d =>
      if (d.terms.contains("window")) None
      else oracleScore("spark", d).map(d.id -> _)
    }.toMap
    assertScoresEqual(engineScores(q), want)
  }

  test("dismax = max + tieBreaker * rest") {
    val q = DisjunctionMaxQuery(Seq(TermQuery("text", "spark"), TermQuery("text", "window")), 0.3)
    val want = oracle.flatMap { d =>
      val parts = Seq(oracleScore("spark", d), oracleScore("window", d)).flatten
      if (parts.isEmpty) None else Some(d.id -> (parts.max + 0.3 * (parts.sum - parts.max)))
    }.toMap
    assertScoresEqual(engineScores(q), want)
  }

  test("boost multiplies scores") {
    val q = BoostQuery(TermQuery("text", "spark"), 2.5)
    val want = oracle.flatMap(d => oracleScore("spark", d).map(d.id -> _ * 2.5)).toMap
    assertScoresEqual(engineScores(q), want)
  }

  test("phrase query slop=0 matches adjacent positions with phrase-tf scoring") {
    val q = PhraseQuery("text", Seq((0, "spark"), (1, "window")), 0)
    def phraseTf(d: OracleDoc): Int =
      (for {
        p0 <- d.terms.getOrElse("spark", Nil)
        p1 <- d.terms.getOrElse("window", Nil)
        if p1 == p0 + 1
      } yield p0).size
    val sumIdf = BM25.idf(df("spark"), nDocs) + BM25.idf(df("window"), nDocs)
    val want = oracle.flatMap { d =>
      val tf = phraseTf(d)
      if (tf == 0) None
      else {
        val len = FieldNorm.decode(FieldNorm.encode(d.len.toLong)).toDouble
        Some(d.id -> sumIdf * (tf * (BM25.K1 + 1)) / (tf + BM25.K1 * ((1 - BM25.B) + BM25.B * len / avgdl)))
      }
    }.toMap
    assert(want.nonEmpty, "corpus should contain adjacent 'spark window' somewhere")
    assertScoresEqual(engineScores(q), want)
  }

  test("phrase with stop-word gap uses pre-filter positions") {
    // "spark the window": positions 0 and 2 after stop-word removal keeps gap
    val parsed = SummaQL.parse("'spark the window'", searcher.parserConfig)
    val pq = parsed match {
      case p: PhraseQuery => p
      case other          => fail(s"expected phrase, got $other")
    }
    assert(pq.terms == Seq((0, "spark"), (2, "window")))
    val want = oracle.flatMap { d =>
      val tf = (for {
        p0 <- d.terms.getOrElse("spark", Nil)
        p1 <- d.terms.getOrElse("window", Nil)
        if p1 == p0 + 2
      } yield p0).size
      if (tf == 0) None
      else {
        val sumIdf = BM25.idf(df("spark"), nDocs) + BM25.idf(df("window"), nDocs)
        val len = FieldNorm.decode(FieldNorm.encode(d.len.toLong)).toDouble
        Some(d.id -> sumIdf * (tf * (BM25.K1 + 1)) / (tf + BM25.K1 * ((1 - BM25.B) + BM25.B * len / avgdl)))
      }
    }.toMap
    assertScoresEqual(engineScores(pq), want)
  }

  test("all / empty / range / exists") {
    assert(searcher.count(AllQuery) == nDocs)
    assert(searcher.count(EmptyQuery) == 0)
    val rq = RangeQuery("n", Some("10"), Some("20"))
    val want = docs.count { case (_, t) => val n = t.split(' ').length; n >= 10 && n <= 20 }
    assert(searcher.count(rq) == want.toLong)
    assert(searcher.count(ExistsQuery("text")) == oracle.count(_.len > 0).toLong)
  }

  test("regex query matches term dictionary") {
    val q = RegexQuery("text", "sp.rk")
    assert(engineScores(q).keySet == oracle.filter(_.terms.contains("spark")).map(_.id).toSet)
  }

  test("regex / term-range plans decode doc ids only (tfs/norms pruned from the scan)") {
    // r6: the unscored membership paths use the ids-only unpack, so the
    // tf/norm binary columns must not appear anywhere in the physical plan
    for (q <- Seq[Query](
        RegexQuery("text", "sp.rk"),
        TermRangeQuery("text", Some("spark"), Some("table"), true, true))) {
      val plan = searcher.search(q).queryExecution.executedPlan.toString
      assert(!plan.contains("tfs"), s"tfs not pruned for $q")
      assert(!plan.contains("norms"), s"norms not pruned for $q")
    }
  }

  test("count: closed-form term fast path equals the exhaustive doc-set count") {
    // r6: count(TermQuery) on a tombstone-free index answers from termstats
    for (t <- Seq("spark", "merge", "vector")) {
      val q = TermQuery("text", t)
      assert(searcher.count(q) == searcher.search(q).count(), s"term $t")
    }
    assert(searcher.count(TermQuery("text", "no_such_term")) == 0L)
    // non-term shapes take the exhaustive path (pinned above in
    // "all / empty / range / exists"); a boolean must agree with its doc-set
    val bq = BooleanQuery(Seq(
      (Occur.Must, TermQuery("text", "spark")),
      (Occur.Must, TermQuery("text", "window"))))
    assert(searcher.count(bq) == searcher.search(bq).count())
  }

  test("topDocs ordering, limit, offset") {
    val hits = searcher.search(TermQuery("text", "spark"))
    val all = hits.collect().map(r => (r.getDouble(2), r.getInt(0), r.getInt(1)))
      .sortBy { case (s, seg, d) => (-s, seg, d) }
    val top5 = searcher.topDocs(TermQuery("text", "spark"), 5).collect()
      .map(r => (r.getDouble(2), r.getInt(0), r.getInt(1)))
    assert(top5.toSeq == all.take(5).toSeq)
    val next5 = searcher.topDocs(TermQuery("text", "spark"), 5, offset = 5).collect()
      .map(r => (r.getDouble(2), r.getInt(0), r.getInt(1)))
    assert(next5.toSeq == all.slice(5, 10).toSeq)
  }

  test("docIds are deterministic across build parallelism (scaling invariant)") {
    import spark.implicits._
    val dir2 = Files.createTempDirectory("graft-searchspec2").toString
    val df2 = docs.map { case (id, t) => (id, t, t.split(' ').length) }
      .toDF("doc_id", "text", "n").repartition(13)
    IndexBuilder.build(spark, df2, schema, dir2, "test-build-2",
      IndexBuilder.BuildConf(numSegments = 3, blockBits = 4, buildPartitions = 11))
    val a = spark.read.parquet(s"$indexDir/docs").select("segment_id", "doc_id", "key")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).sortBy(x => (x._1, x._2))
    val b = spark.read.parquet(s"$dir2/docs").select("segment_id", "doc_id", "key")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).sortBy(x => (x._1, x._2))
    assert(a.toSeq == b.toSeq)
  }

  test("analyzeField: sorted terms, position bytes identical to the codec pack") {
    import graft.index.PostingCodec
    val tf = IndexBuilder.analyzeField("summa", "spark window spark the merge spark window")
    val terms = tf.terms.map(_.term).toSeq
    assert(terms == terms.sorted)
    val byTerm = tf.terms.map(g => g.term -> g).toMap
    // positions are pre-filter ordinals ('the' is a stop word but keeps its slot)
    assert(byTerm("spark").tf == 3)
    assert(byTerm("spark").positions sameElements PostingCodec.packDocPositions(Array(0, 2, 5)))
    assert(byTerm("window").positions sameElements PostingCodec.packDocPositions(Array(1, 6)))
    assert(byTerm("merge").positions sameElements PostingCodec.packDocPositions(Array(4)))
    assert(!byTerm.contains("the"))
    // large positions exercise multi-byte varints
    val big = IndexBuilder.analyzeField("summa", ("w " * 200) + "rare")
    assert(big.terms.find(_.term == "rare").get.positions
      sameElements PostingCodec.packDocPositions(Array(200)))
  }

  test("explainTopDocs: term-leaf contributions sum to the hit score") {
    val q = BooleanQuery(Seq(
      (Occur.Must, TermQuery("text", "spark")),
      (Occur.Should, BoostQuery(TermQuery("text", "window"), 2.0)),
      (Occur.MustNot, TermQuery("text", "scan"))))
    val rows = searcher.explainTopDocs(q, 5).collect()
    val top = searcher.topDocs(q, 5).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    assert(rows.map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSeq == top.toSeq)
    rows.foreach { r =>
      val json = r.getString(3)
      assert(json.contains("\"value\""))
      // every term leaf's contribution parses out; they sum to the score
      val contribs = """"contribution":([-0-9.eE]+)""".r
        .findAllMatchIn(json).map(_.group(1).toDouble).toSeq
      assert(contribs.nonEmpty)
      assert(math.abs(contribs.sum - r.getDouble(2)) < 1e-6)
      // the boosted leaf carries its cumulative boost
      if (json.contains("\"term\":\"window\"")) assert(json.contains("\"boost\":2.0"))
      // must_not leaves never appear
      assert(!json.contains("\"term\":\"scan\""))
    }
  }

  test("explainTopDocs: phrase leaf = one pseudo-term, sums with siblings, windows listed") {
    val q = BooleanQuery(Seq(
      (Occur.Must, PhraseQuery("text", Seq((0, "spark"), (1, "window")), 0)),
      (Occur.Should, TermQuery("text", "merge"))))
    val rows = searcher.explainTopDocs(q, 5).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val json = r.getString(3)
      assert(json.contains("\"kind\":\"phrase\""))
      assert(json.contains("\"term\":\"\\\"spark window\\\"\""))
      // phrase + term contributions sum exactly to the hit score
      val contribs = """"contribution":([-0-9.eE]+)""".r
        .findAllMatchIn(json).map(_.group(1).toDouble).toSeq
      assert(math.abs(contribs.sum - r.getDouble(2)) < 1e-6)
      // alignment windows: phrase tf equals the positions-array length
      val tfByKind = """"kind":"phrase","tf":(\d+)""".r
        .findFirstMatchIn(json).map(_.group(1).toInt)
      val positions = """"positions":\[([0-9,]*)\]""".r
        .findFirstMatchIn(json).map(_.group(1)).map(s =>
          if (s.isEmpty) 0 else s.split(',').length)
      assert(tfByKind.nonEmpty && tfByKind == positions)
    }
  }
}

/** Single-token-field fast path (docs-scan term query) must be bitwise
  * score-identical to the posting-join plan it replaces, and must not touch
  * the postings table at all.
  */
class FastTermSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schemaFast = IndexSchema(
    keyField = "doc_id",
    fields = Seq(
      FieldDef("text", "summa", "position"),
      FieldDef("lang", "raw", "basic")),
    defaultFields = Seq("text"),
    storedFields = Seq("lang")
  )

  private lazy val indexDir: String = {
    val dir = Files.createTempDirectory("graft-fastterm").toString
    import spark.implicits._
    val langs = Vector("en", "de", "fr", "zh")
    val rnd = new scala.util.Random(7)
    val rows = Vector.tabulate(400) { i =>
      val words = Vector.fill(5 + rnd.nextInt(30))(Vector("spark", "merge", "scan", "the")(rnd.nextInt(4)))
      (i.toLong, words.mkString(" "), langs(rnd.nextInt(langs.size)))
    }
    IndexBuilder.build(spark, rows.toDF("doc_id", "text", "lang"), schemaFast, dir,
      "fastterm", IndexBuilder.BuildConf(numSegments = 3, blockBits = 4))
    dir
  }

  private def scores(s: Searcher, q: Query): Map[(Int, Int), Double] =
    s.search(q).collect()
      .map(r => (r.getAs[Int]("segment_id"), r.getAs[Int]("doc_id")) -> r.getAs[Double]("score"))
      .toMap

  test("docs-scan term query: bitwise score-identical to the posting plan") {
    val reader = new Searcher(new IndexReader(spark, indexDir), schemaFast)
    // same index, fast path disabled by dropping the stored-field eligibility
    val slow = new Searcher(reader.reader, schemaFast.copy(storedFields = Nil))
    assert(reader.fastTermCi("lang").contains(false) && slow.fastTermCi("lang").isEmpty)

    for (q <- Seq[Query](
        TermQuery("lang", "en"),
        BooleanQuery(Seq(
          (Occur.Must, TermQuery("lang", "en")),
          (Occur.Should, TermQuery("text", "spark")))))) {
      val fast = scores(reader, q)
      val ref = scores(slow, q)
      assert(fast.keySet == ref.keySet, s"doc sets differ for $q")
      fast.foreach { case (k, s) =>
        assert(s == ref(k), s"score not bitwise-equal for $k: $s vs ${ref(k)}") // exact, no epsilon
      }
    }
  }

  test("fast path never scans postings; topDocs skips WAND for raw fields") {
    val searcher = new Searcher(new IndexReader(spark, indexDir), schemaFast)
    val plan = searcher.search(TermQuery("lang", "en")).queryExecution.executedPlan.toString
    assert(!plan.contains("postings"), s"fast path must not read postings:\n$plan")
    val top = searcher.topDocs(BooleanQuery(Seq((Occur.Should, TermQuery("lang", "en")))), 10)
    assert(!top.queryExecution.executedPlan.toString.contains("postings"))
    assert(top.collect().length == 10)
    // unknown term on the raw field: empty, not a docs-scan false positive
    assert(searcher.search(TermQuery("lang", "nope")).collect().isEmpty)
  }

  test("termDfs: driver-summed dfs equal a Spark-side groupBy over termstats") {
    val reader = new IndexReader(spark, indexDir)
    val pairs = Seq(("text", "spark"), ("text", "merge"), ("text", "no_such_term"),
      ("lang", "en"), ("lang", "de"), ("lang", "no_such_term"))
    val want = reader.termStatsDf
      .filter(pairs.map { case (f, t) => col("field") === f && col("term") === t }.reduce(_ || _))
      .groupBy("field", "term").agg(sum("df"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(want.keySet.map(_._1) == Set("text", "lang"))
    assert(reader.termDfs(pairs) == want)
    assert(!reader.termDfs(pairs).contains(("text", "no_such_term")))
  }
}
