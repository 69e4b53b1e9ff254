package graft.search

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.analysis.Analyzers
import graft.index.{FieldDef, IndexBuilder, IndexSchema}

class CollectorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = IndexSchema(
    keyField = "doc_id",
    fields = Seq(FieldDef("text", "summa", "position")),
    defaultFields = Seq("text"),
    storedFields = Seq("rank_field", "price")
  )

  private val vocab = Vector("spark", "window", "merge", "table", "scan", "join")
  private lazy val docs: Vector[(Long, String, Int, Double)] = {
    val rnd = new scala.util.Random(21)
    Vector.tabulate(300)(i =>
      (i.toLong, Vector.fill(6 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" "),
        rnd.nextInt(8), rnd.nextDouble() * 100))
  }

  private lazy val searcher: Searcher = {
    val dir = Files.createTempDirectory("graft-coll").toString
    IndexBuilder.build(spark, docs.toDF("doc_id", "text", "rank_field", "price"),
      schema, dir, "coll", IndexBuilder.BuildConf(numSegments = 3))
    new Searcher(new IndexReader(spark, dir), schema)
  }

  test("topDocs has_next contract (limit+1 trick)") {
    val total = searcher.count(TermQuery("text", "spark")).toInt
    assert(total > 12)
    // a window inside one 100-doc block pages the cached block
    val (p1, p1Next) = searcher.collectTopDocs(TermQuery("text", "spark"), 10, 0)
    assert(p1.length == 10 && p1Next)
    val (last, lastNext) = searcher.collectTopDocs(TermQuery("text", "spark"), 10, total - 5)
    assert(last.length == 5 && !lastNext)
    // a window past the first block spans blocks and is fetched uncached
    assert(total > 100)
    val (exact, exactNext) = searcher.collectTopDocs(TermQuery("text", "spark"), total, 0)
    assert(exact.length == total && !exactNext)
  }

  test("reservoir sampling: k bounds, subset property, determinism, rough uniformity") {
    val hits = searcher.search(TermQuery("text", "spark"))
    val all = hits.select("segment_id", "doc_id").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    val s0 = Collectors.reservoirSample(hits, 10, seed = 5)
    assert(s0.length == 10 && s0.toSet.subsetOf(all) && s0.distinct.length == 10)
    assert(Collectors.reservoirSample(hits, 10, seed = 5).toSeq == s0.toSeq)
    assert(Collectors.reservoirSample(hits, 0, 5).isEmpty)
    assert(Collectors.reservoirSample(hits, all.size + 50, 5).length == all.size)
    // uniformity smoke: every doc sampled at least once over many seeds
    val seen = scala.collection.mutable.Set[(Int, Int)]()
    (0 until 80).foreach(s => seen ++= Collectors.reservoirSample(hits, 20, s.toLong))
    assert(seen.size.toDouble / all.size > 0.9, s"coverage ${seen.size}/${all.size}")
  }

  test("facet counts") {
    val df = Seq(
      (1L, Seq("/genre", "/genre/fiction")),
      (2L, Seq("/genre", "/genre/fiction", "/genre/fiction/scifi")),
      (3L, Seq("/genre", "/genre/biography")),
      (4L, Seq("/lang", "/lang/en"))
    ).toDF("id", "facets")
    val got = Collectors.facetCounts(df, "facets", "/genre")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("/genre/biography", 1L), ("/genre/fiction", 2L), ("/genre/fiction/scifi", 1L)))
  }

  test("aggregation DSL: terms, histogram, range, stats, percentiles") {
    val matched = searcher.searchWithDocs(TermQuery("text", "spark"))
    val terms = Collectors.aggregate(matched, Collectors.TermsAgg("rank_field", 3)).collect()
    assert(terms.length == 3)
    assert(terms.map(_.getLong(1)).toSeq == terms.map(_.getLong(1)).toSeq.sorted.reverse)

    val hist = Collectors.aggregate(matched, Collectors.HistogramAgg("price", 25.0)).collect()
    assert(hist.map(_.getDouble(0)).toSeq == Seq(0.0, 25.0, 50.0, 75.0))
    assert(hist.map(_.getLong(1)).sum == matched.count())

    val rng = Collectors.aggregate(matched,
      Collectors.RangeAgg("price", Seq((None, Some(50.0)), (Some(50.0), None)))).collect()
    assert(rng.map(_.getLong(1)).sum == matched.count())

    val stats = Collectors.aggregate(matched, Collectors.StatsAgg("price")).collect()(0)
    assert(stats.getLong(0) == matched.count())

    val pct = Collectors.aggregate(matched, Collectors.PercentilesAgg("rank_field", Seq(50))).collect()(0)
    assert(pct.getSeq[Int](0).nonEmpty)
  }

  test("eval-expr scorer compiles to deterministic arithmetic") {
    val top = searcher
      .topDocsByEval(TermQuery("text", "spark"), "original_score * fastsigm(price, 50)", 5)
      .select("key", "eval_score", "score", "price").collect()
    top.foreach { r =>
      val want = r.getDouble(2) * (r.getDouble(3).abs / (50.0 + r.getDouble(3).abs))
      assert(math.abs(r.getDouble(1) - want) < 1e-12)
    }
    val scores = top.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse)
    // iqpr table lookup
    val one = searcher
      .topDocsByEval(TermQuery("text", "spark"), "iqpr(min(rank_field, 7))", 1)
      .select("eval_score", "rank_field").collect()(0)
    val table = Seq(0.15495413, 0.16896642, 0.191641, 0.2273262, 0.28240761, 0.36859454, 0.53123659, 1.74778878)
    assert(one.getDouble(0) == table(math.min(one.getInt(1), 7)))
  }

  test("order by fast field") {
    val top = searcher.topDocsByField(TermQuery("text", "spark"), "price", 5).collect()
    val prices = top.map(_.getAs[Double]("price")).toSeq
    assert(prices == prices.sorted.reverse)
  }

  test("more-like-this expands to salient terms and finds similar docs") {
    val mlt = MoreLikeThisQuery(
      fields = Map("text" -> docs(17)._2),
      minDocFrequency = 1, minTermFrequency = 1, maxQueryTerms = 5)
    val expanded = searcher.resolve(mlt)
    expanded match {
      case BooleanQuery(cs, _) =>
        assert(cs.nonEmpty && cs.forall(_._1 == Occur.Should))
      case other => fail(s"expected boolean, got $other")
    }
    val top = searcher.topDocs(mlt, 10).collect()
    assert(top.nonEmpty)
  }

  test("snippets: best fragment + highlights") {
    val text = "alpha beta gamma delta spark window epsilon zeta " * 3 + "spark spark spark end"
    val sn = Snippets.generate(text, Set("spark"), Analyzers.summa, 40)
    assert(sn.fragment.length <= 40)
    assert(sn.fragment.contains("spark"))
    assert(sn.highlights.size == 3, s"should pick the dense window: $sn")
    assert(sn.toHtml.contains("<b>spark</b>"))
    val none = Snippets.generate(text, Set("missing"), Analyzers.summa, 40)
    assert(none.fragment.isEmpty)
  }

  test("multiCollect runs several collectors over one cached doc-set") {
    val (cnt, topLen) = searcher.multiCollect(TermQuery("text", "spark")) { hits =>
      val c = hits.count()
      val t = hits.orderBy(col("score").desc).limit(5).collect().length
      (c, t)
    }
    assert(cnt > 0 && topLen == 5)
  }
}
