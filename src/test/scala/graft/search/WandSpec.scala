package graft.search

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.index.{FieldDef, IndexBuilder, IndexSchema}

/** Block-max WAND must be result-identical to the exhaustive plan. */
class WandSpec extends AnyFunSuite {
  import WandSpec.{assertPrimedSame, withPrimed}
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = IndexSchema(
    keyField = "doc_id",
    fields = Seq(FieldDef("text", "summa", "position")),
    defaultFields = Seq("text"))

  /** The main corpus: 500 docs over a zipfian-ish vocab, so some terms are
    * dense (WAND-prunable).
    */
  private def corpus = {
    val rnd = new scala.util.Random(33)
    val vocab = Vector.tabulate(50)(i => s"w$i")
    def pick(): String = vocab(math.min((math.abs(rnd.nextGaussian()) * 10).toInt, 49))
    Vector.tabulate(500)(i => (i.toLong, Vector.fill(10 + rnd.nextInt(40))(pick()).mkString(" ")))
      .toDF("doc_id", "text")
  }

  private lazy val searcher: Searcher = {
    val dir = Files.createTempDirectory("graft-wand").toString
    IndexBuilder.build(spark, corpus, schema, dir, "wand",
      IndexBuilder.BuildConf(numSegments = 3, blockBits = 5))
    new Searcher(new IndexReader(spark, dir), schema)
  }

  /** The top `k` of `q` by the per-occurrence oracle, which never runs the
    * block kernel (see [[PerOccurrence]]).
    */
  private def exhaustive(q: Query, k: Int, s: => Searcher = searcher) =
    WandSpec.perOccurrence(s, q)
      .orderBy(col("score").desc, col("segment_id").asc, col("doc_id").asc)
      .limit(k)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))

  private def topK(plan: WandTopK.Plan, k: Int) = WandTopK.run(searcher, plan, k).toDF(spark)

  private def assertSame(a: Array[(Int, Int, Double)], b: Array[(Int, Int, Double)]): Unit = {
    assert(a.length == b.length)
    a.zip(b).foreach { case ((s1, d1, sc1), (s2, d2, sc2)) =>
      assert(s1 == s2 && d1 == d2, s"doc order differs: ($s1,$d1) vs ($s2,$d2)")
      assert(math.abs(sc1 - sc2) < 1e-12, s"score differs: $sc1 vs $sc2")
    }
  }

  test("single term: WAND == exhaustive (bitwise scores)") {
    for (t <- Seq("w0", "w5", "w20")) {
      val wand = topK(WandTopK.Term("text", t), 10)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      val base = exhaustive(TermQuery("text", t), 10)
      assert(wand.map(x => (x._1, x._2)).toSeq == base.map(x => (x._1, x._2)).toSeq)
      wand.zip(base).foreach { case (w, e) => assert(w._3 == e._3, "scores must be bitwise equal") }
    }
  }

  test("multi-term should bag: WAND == exhaustive") {
    val terms = Seq("w0", "w1", "w7", "w15")
    val q = BooleanQuery(terms.map(t => (Occur.Should, TermQuery("text", t): Query)))
    val wand = topK(WandTopK.eligible(q).get, 15)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    assertSame(wand, exhaustive(q, 15))
  }

  test("k larger than matches; missing terms") {
    val wand = topK(WandTopK.eligible(bool((Occur.Should, "w49"), (Occur.Should, "nosuchterm"))).get, 1000)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    val base = exhaustive(TermQuery("text", "w49"), 1000)
    assertSame(wand, base)
    assert(topK(WandTopK.Term("text", "nosuchterm"), 10).count() == 0)
  }

  test("topDocs auto-routes eligible queries through WAND") {
    val q = BooleanQuery(Seq(
      (Occur.Should, TermQuery("text", "w0")),
      (Occur.Should, TermQuery("text", "w3"))))
    assert(WandTopK.eligible(q).contains(WandTopK.Bool(
      Nil, Seq(WandTopK.Term("text", "w0"), WandTopK.Term("text", "w3")), Nil, 1)))
    val viaTopDocs = searcher.topDocs(q, 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    assertSame(viaTopDocs, exhaustive(q, 10))
    // offset paging stays correct through the WAND route
    val all = exhaustive(q, 20)
    val page2 = searcher.topDocs(q, 10, offset = 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    assertSame(page2, all.drop(10))
  }

  // ---- r6 extended routing: must+should, mustNot, dismax ----

  private def viaWand(q: Query, k: Int) = {
    val bag = WandTopK.eligible(q)
    assert(bag.nonEmpty, s"expected $q to be WAND-eligible")
    topK(bag.get, k)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
  }

  test("must+should bag: WAND == exhaustive (incl. must-only docs)") {
    val q = BooleanQuery(Seq(
      (Occur.Must, TermQuery("text", "w0")),
      (Occur.Should, TermQuery("text", "w3"))))
    assertSame(viaWand(q, 15), exhaustive(q, 15))
  }

  test("pure conjunction: WAND == exhaustive") {
    val q = BooleanQuery(Seq(
      (Occur.Must, TermQuery("text", "w0")),
      (Occur.Must, TermQuery("text", "w1"))))
    assertSame(viaWand(q, 20), exhaustive(q, 20))
  }

  test("should + mustNot: WAND == exhaustive (exclusion honored)") {
    val q = BooleanQuery(Seq(
      (Occur.Should, TermQuery("text", "w0")),
      (Occur.Should, TermQuery("text", "w5")),
      (Occur.MustNot, TermQuery("text", "w1"))))
    val got = viaWand(q, 25)
    assertSame(got, exhaustive(q, 25))
    // sanity: the exclusion actually bites on this corpus
    val without = exhaustive(BooleanQuery(Seq(
      (Occur.Should, TermQuery("text", "w0")),
      (Occur.Should, TermQuery("text", "w5")))), 25)
    assert(got.map(h => (h._1, h._2)).toSet != without.map(h => (h._1, h._2)).toSet)
  }

  test("must + should + mustNot bag through topDocs routing") {
    val q = BooleanQuery(Seq(
      (Occur.Must, TermQuery("text", "w2")),
      (Occur.Should, TermQuery("text", "w7")),
      (Occur.MustNot, TermQuery("text", "w15"))))
    assert(WandTopK.eligible(q).nonEmpty)
    val viaTopDocs = searcher.topDocs(q, 12)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    assertSame(viaTopDocs, exhaustive(q, 12))
  }

  test("dismax bag: WAND == exhaustive") {
    val q = DisjunctionMaxQuery(
      Seq(TermQuery("text", "w0"), TermQuery("text", "w3"), TermQuery("text", "w9")), 0.3)
    assert(WandTopK.eligible(q).contains(
      WandTopK.DisMax(Seq("w0", "w3", "w9").map(WandTopK.Term("text", _)), 0.3)))
    assertSame(viaWand(q, 15), exhaustive(q, 15))
    // tieBreaker 0 (pure max) and 1 (pure sum) edge combiners
    for (tb <- Seq(0.0, 1.0)) {
      val qq = DisjunctionMaxQuery(Seq(TermQuery("text", "w0"), TermQuery("text", "w5")), tb)
      assertSame(viaWand(qq, 10), exhaustive(qq, 10))
    }
  }

  test("ineligible shapes still fall back") {
    // a duplicate term in a group is eligible: each occurrence scores
    val dup = BooleanQuery(Seq(
      (Occur.Should, TermQuery("text", "w0")),
      (Occur.Should, TermQuery("text", "w0"))))
    assertSame(viaWand(dup, 10), exhaustive(dup, 10))
    // any minimumShouldMatch is eligible, with or without a must clause
    for (q <- Seq(
        BooleanQuery(Seq(
          (Occur.Should, TermQuery("text", "w0")),
          (Occur.Should, TermQuery("text", "w3"))), Some(2)),
        BooleanQuery(Seq(
          (Occur.Must, TermQuery("text", "w0")),
          (Occur.Should, TermQuery("text", "w3"))), Some(1)))) {
      assertSame(viaWand(q, 10), exhaustive(q, 10))
    }
    // cross-field bag: eligible, and identical to the exhaustive plan
    val crossField = BooleanQuery(Seq(
      (Occur.Must, TermQuery("text", "w0")),
      (Occur.Should, TermQuery("other", "w3"))))
    assert(WandTopK.eligible(crossField).nonEmpty)
    assertSame(viaWand(crossField, 10), exhaustive(crossField, 10))
    // a docs-table clause
    val regex = BooleanQuery(Seq(
      (Occur.Must, TermQuery("text", "w0")),
      (Occur.Should, RegexQuery("text", "w1.*"))))
    assertSame(viaWand(regex, 10), exhaustive(regex, 10))
    // dismax with out-of-range tieBreaker
    val wideTie = DisjunctionMaxQuery(Seq(TermQuery("text", "w0"), TermQuery("text", "w3")), 1.5)
    assertSame(viaWand(wideTie, 10), exhaustive(wideTie, 10))
  }

  test("missing must term yields empty; missing should term is dropped") {
    val qEmpty = BooleanQuery(Seq(
      (Occur.Must, TermQuery("text", "nosuchterm")),
      (Occur.Should, TermQuery("text", "w0"))))
    assert(viaWand(qEmpty, 10).isEmpty)
    val qDrop = BooleanQuery(Seq(
      (Occur.Must, TermQuery("text", "w0")),
      (Occur.Should, TermQuery("text", "nosuchterm"))))
    assertSame(viaWand(qDrop, 10), exhaustive(qDrop, 10))
  }

  test("unknown field or k = 0: the WAND route returns no hits, like the exhaustive plan") {
    val q = TermQuery("nosuchfield", "x")
    assert(WandTopK.eligible(q).nonEmpty)
    assert(searcher.topDocs(q, 10).collect().isEmpty)
    assert(searcher.search(q).count() == 0 && searcher.count(q) == 0)
    assert(searcher.topDocs(TermQuery("text", "w0"), 0).collect().isEmpty)
  }

  test("routed shapes run as one job with no shuffle-map stage") {
    val shapes = Seq[Query](
      TermQuery("text", "w0"),
      BooleanQuery(Seq(
        (Occur.Should, TermQuery("text", "w0")),
        (Occur.Should, TermQuery("text", "w3")),
        (Occur.Should, TermQuery("text", "w9")))),
      BooleanQuery(Seq(
        (Occur.Must, TermQuery("text", "w2")),
        (Occur.Should, TermQuery("text", "w7")),
        (Occur.MustNot, TermQuery("text", "w15")))),
      DisjunctionMaxQuery(Seq(TermQuery("text", "w0"), TermQuery("text", "w5")), 0.3),
      PhraseQuery("text", Seq((0, "w0"), (1, "w1")), 0))
    for (q <- shapes) {
      assert(WandTopK.eligible(q).nonEmpty)
      searcher.topDocs(q, 10).collect() // first use reads the stats and lists files
      val stages = TestSpark.jobStages { searcher.topDocs(q, 10).collect(); () }
      // a fresh reader reads its terms' posting files on the driver: no
      // job, so no Exchange either
      assert(stages == Nil, s"$q: stages per job $stages")
    }
    // the head shape: a raw stored field's must term plus a text should term
    val head = BooleanQuery(Seq(
      (Occur.Must, TermQuery("lang", "en")), (Occur.Should, TermQuery("text", "w3"))))
    assert(WandTopK.eligible(head).nonEmpty)
    langSearcher.topDocs(head, 10).collect()
    val headStages = TestSpark.jobStages { langSearcher.topDocs(head, 10).collect(); () }
    assert(headStages == Nil, s"$head: stages per job $headStages")
  }

  test("block-max bound prunes block groups on a skewed should-bag") {
    val q = bool((Occur.Should, "w0"), (Occur.Should, "w25"))
    val r = WandTopK.run(searcher, WandTopK.eligible(q).get, 3)
    assert(r.groupsDecoded < r.groupsSeen, s"decoded ${r.groupsDecoded} of ${r.groupsSeen} groups")
    assert(r.groupsDecoded > 0)
    assertSame(r.toDF(spark).collect().map(x => (x.getInt(0), x.getInt(1), x.getDouble(2))),
      exhaustive(q, 3))
  }

  private def bits(a: Array[(Int, Int, Double)]): Seq[(Int, Int, Long)] =
    a.toSeq.map { case (sg, d, sc) => (sg, d, java.lang.Double.doubleToRawLongBits(sc)) }

  private val allBut7 = BooleanQuery(Seq((Occur.Must, AllQuery), (Occur.MustNot, TermQuery("text", "w7"))))

  test("a full heap skips groups whose bound only ties its kth score: *:* -w7 top-10") {
    val r = WandTopK.run(searcher, WandTopK.eligible(allBut7).get, 10)
    assert(r.groupsDecoded < r.groupsSeen, s"decoded ${r.groupsDecoded} of ${r.groupsSeen} groups")
    assert(bits(rows(r.toDF(spark))) == bits(exhaustive(allBut7, 10)))
  }

  test("equal scores across several groups keep the (segment, doc) tie-break") {
    // every hit scores one constant, so the order is the address order alone
    val qs = Seq(allBut7,
      BooleanQuery(Seq((Occur.Must, ExistsQuery("text")), (Occur.MustNot, TermQuery("text", "w20")))))
    for (s <- Seq(searcher, tombSearcher); q <- qs; k <- Seq(30, 50)) {
      val want = exhaustive(q, k, s)
      assert(want.length == k && want.map(_._3).distinct.length == 1, s"$q: not $k tied hits")
      assert(want.map { case (sg, d, _) => (sg, d >> 5) }.distinct.length > 1, s"$q: one group")
      assert(bits(rows(WandTopK.run(s, WandTopK.eligible(q).get, k).toDF(spark))) == bits(want))
      assert(bits(rows(s.topDocs(q, 10, offset = k - 10))) == bits(want.drop(k - 10)))
    }
  }

  // ---- phrases ----

  private def phrase(terms: Seq[String], slop: Int): Query =
    PhraseQuery("text", terms.zipWithIndex.map { case (t, i) => (i, t) }, slop)

  test("phrases: WAND == exhaustive (slop 0 and 1, three terms with slop 2, repeated term)") {
    for (q <- Seq(phrase(Seq("w0", "w1"), 0), phrase(Seq("w0", "w1"), 1),
                  phrase(Seq("w2", "w0"), 0), phrase(Seq("w0", "w1", "w2"), 2),
                  phrase(Seq("w0", "w0"), 0))) {
      assert(WandTopK.eligible(q).exists(_.isInstanceOf[WandTopK.Phrase]), q.toString)
      val got = viaWand(q, 15)
      assert(got.nonEmpty, s"$q matches nothing on this corpus")
      assertSame(got, exhaustive(q, 15))
      assertSame(searcher.topDocs(q, 15).collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))),
        exhaustive(q, 15))
    }
  }

  test("phrases: an unindexed term gives no hits; a one-term phrase is a term bag; paging") {
    val missing = phrase(Seq("w0", "nosuchterm"), 0)
    assert(viaWand(missing, 10).isEmpty && exhaustive(missing, 10).isEmpty)
    assert(WandTopK.eligible(phrase(Seq("w3"), 0)).contains(WandTopK.Term("text", "w3")))
    val q = phrase(Seq("w0", "w1"), 1)
    val page = searcher.topDocs(q, 10, offset = 5)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    assertSame(page, exhaustive(q, 15).drop(5))
  }

  // ---- mixed-field bags: a raw stored `lang` field beside `text` ----

  private val langSchema = IndexSchema(
    keyField = "doc_id",
    fields = Seq(FieldDef("text", "summa", "position"), FieldDef("lang", "raw", "basic")),
    defaultFields = Seq("text"),
    storedFields = Seq("lang"))

  private lazy val langSearcher: Searcher = {
    val rnd = new scala.util.Random(41)
    val vocab = Vector.tabulate(50)(i => s"w$i")
    def pick(): String = vocab(math.min((math.abs(rnd.nextGaussian()) * 10).toInt, 49))
    val langs = Vector("en", "en", "de", "fr", "zh")
    val docs = Vector.tabulate(600)(i =>
      (i.toLong, Vector.fill(5 + rnd.nextInt(40))(pick()).mkString(" "), langs(rnd.nextInt(langs.size))))
    val dir = Files.createTempDirectory("graft-wand-lang").toString
    IndexBuilder.build(spark, docs.toDF("doc_id", "text", "lang"), langSchema, dir, "wandlang",
      IndexBuilder.BuildConf(numSegments = 3, blockBits = 5))
    new Searcher(new IndexReader(spark, dir), langSchema)
  }

  private def langExhaustive(q: Query, k: Int) = exhaustive(q, k, langSearcher)

  /** `q` through `topDocs`, asserting it took the WAND route (a local relation). */
  private def langRouted(q: Query, k: Int) = {
    assert(WandTopK.eligible(q).nonEmpty, s"expected $q to be WAND-eligible")
    val top = langSearcher.topDocs(q, k)
    assert(top.queryExecution.executedPlan.toString.contains("LocalTableScan"), s"$q not routed")
    top.collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
  }

  test("head shape (raw must + text should): WAND == exhaustive at k = 10 and 25") {
    for (t <- Seq("w3", "w30"); k <- Seq(10, 25)) {
      val q = BooleanQuery(Seq(
        (Occur.Must, TermQuery("lang", "en")), (Occur.Should, TermQuery("text", t))))
      val want = langExhaustive(q, k)
      assert(want.length == k)
      assertSame(langRouted(q, k), want)
    }
  }

  test("mixed-field should-bag, raw mustNot and cross-field dismax: WAND == exhaustive") {
    val shouldBag = BooleanQuery(Seq(
      (Occur.Should, TermQuery("lang", "de")),
      (Occur.Should, TermQuery("text", "w1")),
      (Occur.Should, TermQuery("text", "w7"))))
    assertSame(langRouted(shouldBag, 20), langExhaustive(shouldBag, 20))
    val rawNot = BooleanQuery(Seq(
      (Occur.Should, TermQuery("text", "w0")),
      (Occur.Should, TermQuery("text", "w4")),
      (Occur.MustNot, TermQuery("lang", "en"))))
    val got = langRouted(rawNot, 20)
    assertSame(got, langExhaustive(rawNot, 20))
    // the exclusion bites on this corpus
    val without = BooleanQuery(rawNot.clauses.filter(_._1 == Occur.Should))
    assert(got.map(h => (h._1, h._2)).toSet != langExhaustive(without, 20).map(h => (h._1, h._2)).toSet)
    val dismax = DisjunctionMaxQuery(Seq(TermQuery("lang", "fr"), TermQuery("text", "w2")), 0.3)
    assertSame(langRouted(dismax, 15), langExhaustive(dismax, 15))
  }

  // ---- one evaluator: full results, tombstones, fieldnorms off ----

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))

  /** Full `search` of `q` equals the per-occurrence oracle's doc set and scores. */
  private def assertSameSearch(s: Searcher, q: Query): Unit = {
    val plan = s.search(q)
    assert(plan.queryExecution.executedPlan.toString.contains("block_kernel"), s"$q did not take the kernel")
    val got = rows(plan).map { case (sg, d, sc) => (sg, d) -> sc }.toMap
    val want = rows(WandSpec.perOccurrence(s, q)).map { case (sg, d, sc) => (sg, d) -> sc }.toMap
    assert(want.nonEmpty, s"$q matches nothing on this corpus")
    assert(got.keySet == want.keySet, s"$q: doc sets differ")
    got.foreach { case (k, sc) => assert(math.abs(sc - want(k)) < 1e-12, s"$q at $k: $sc vs ${want(k)}") }
  }

  private def bool(cs: (Occur, String)*): BooleanQuery =
    BooleanQuery(cs.map { case (o, t) => (o, TermQuery("text", t): Query) })

  /** Every bag shape: must, should, must+should, mustNot, msm = 2, dismax. */
  private val bags: Seq[Query] = Seq(
    bool((Occur.Must, "w0"), (Occur.Must, "w2")),
    bool((Occur.Should, "w0"), (Occur.Should, "w4"), (Occur.Should, "w11")),
    bool((Occur.Must, "w1"), (Occur.Should, "w3"), (Occur.Should, "w8")),
    bool((Occur.Should, "w0"), (Occur.Should, "w5"), (Occur.MustNot, "w1")),
    BooleanQuery(bool((Occur.Should, "w0"), (Occur.Should, "w3"), (Occur.Should, "w6")).clauses, Some(2)),
    DisjunctionMaxQuery(Seq(TermQuery("text", "w0"), TermQuery("text", "w3"), TermQuery("text", "w9")), 0.3))

  test("the per-occurrence oracle never takes the kernel") {
    for (q <- bags) {
      assert(!WandSpec.perOccurrence(searcher, q).queryExecution.executedPlan.toString
        .contains("block_kernel"), q.toString)
    }
  }

  test("full-result bag plan: one shuffle exchange and no join") {
    for (q <- bags) {
      val plan = searcher.plan(q, searcher.reader.termDfs(WandTopK.eligible(q).get.pairs))
        .queryExecution.executedPlan.toString
      assert(plan.contains("block_kernel"), s"$q: $plan")
      assert(plan.split("\n").count(_.contains("Exchange")) == 1, s"$q: $plan")
      assert(!plan.contains("Join"), s"$q: $plan")
    }
  }

  test("full search() of every bag shape equals the per-occurrence oracle") {
    bags.foreach(assertSameSearch(searcher, _))
  }

  /** The main corpus again, with tombstones on docs among the would-be top-k
    * of the bag shapes and on a spread of other docs.
    */
  private lazy val tombSearcher: Searcher = {
    val dir = Files.createTempDirectory("graft-wand-tomb").toString
    IndexBuilder.build(spark, corpus, schema, dir, "wandtomb",
      IndexBuilder.BuildConf(numSegments = 3, blockBits = 5))
    val s0 = new Searcher(new IndexReader(spark, dir), schema)
    val topHits = bags.flatMap(q => rows(s0.topDocs(q, 12)).zipWithIndex.collect {
      case ((sg, d, _), i) if i % 2 == 0 => (sg, d)
    })
    val spread = rows(s0.search(AllQuery)).collect { case (sg, d, _) if d % 7 == 3 => (sg, d) }
    graft.index.Maintenance.deleteDocs(spark, dir,
      (topHits ++ spread).distinct.toDF("segment_id", "doc_id"))
    new Searcher(new IndexReader(spark, dir), schema)
  }

  test("tombstones: top-k through topDocs equals the oracle, paging included") {
    val dead = tombSearcher.reader.tombstones
    assert(dead.nonEmpty)
    for (q <- bags) {
      val top = tombSearcher.topDocs(q, 10)
      assert(top.queryExecution.executedPlan.toString.contains("LocalTableScan"), s"$q not routed")
      val want = exhaustive(q, 20, tombSearcher)
      def isDead(h: (Int, Int, Double)) = dead.get(h._1).exists(_.get(h._2))
      assert(want.length == 20 && !want.exists(isDead))
      // deleted docs sit among the would-be top-k
      val unfiltered = rows(PerOccurrence.plan(tombSearcher, q,
          tombSearcher.reader.termDfs(WandTopK.eligible(q).get.pairs))
        .orderBy(col("score").desc, col("segment_id").asc, col("doc_id").asc).limit(10))
      assert(unfiltered.exists(isDead), s"$q: no tombstone among the top 10")
      assertSame(rows(top), want.take(10))
      assertSame(rows(tombSearcher.topDocs(q, 10, offset = 7)), want.slice(7, 17))
    }
  }

  test("tombstones: full search() of every bag shape equals the oracle") {
    bags.foreach(assertSameSearch(tombSearcher, _))
  }

  test("tombstones: a reader's second top-k request starts exactly 1 job") {
    val s = new Searcher(new IndexReader(spark, tombSearcher.reader.indexDir), schema)
    val q = bags(2)
    s.topDocs(q, 10).collect()
    // tombstones and posting files are read on the driver: no job
    val stages = TestSpark.jobStages { s.topDocs(q, 10).collect(); () }
    assert(stages == Nil, s"stages per job $stages")
  }

  test("fieldnorms off: should and must+should bags equal the oracle via topDocs and search") {
    val off = new Searcher(searcher.reader, schema, fieldnorms = false)
    for (q <- Seq(bags(1), bags(2))) {
      val top = off.topDocs(q, 15)
      assert(top.queryExecution.executedPlan.toString.contains("LocalTableScan"), s"$q not routed")
      val want = exhaustive(q, 15, off)
      assertSame(rows(top), want)
      assertSameSearch(off, q)
      // the toggle bites: fieldnorms on ranks or scores differently
      assert(rows(searcher.topDocs(q, 15)).toSeq != want.toSeq)
    }
  }

  // ---- one query-tree kernel: phrases, boosts, nesting, dismax, duplicates ----

  private def t(w: String): Query = TermQuery("text", w)

  /** Tree shapes beyond term bags. */
  private val trees: Seq[Query] = Seq(
    // phrase in a boolean (the q_bool_phrase_mix shape)
    BooleanQuery(Seq((Occur.Must, t("w0")), (Occur.Should, phrase(Seq("w1", "w2"), 0)))),
    // boosted leaves and a boosted nested boolean (the q_boost_compose shape)
    BooleanQuery(Seq(
      (Occur.Should, BoostQuery(t("w0"), 2.0)), (Occur.Should, t("w3")),
      (Occur.Should, BoostQuery(bool((Occur.Must, "w1"), (Occur.Should, "w5")), 0.5)))),
    // a nested boolean with msm and a mustNot inside a should clause
    BooleanQuery(Seq((Occur.Must, t("w1")), (Occur.Should, BooleanQuery(Seq(
      (Occur.Should, t("w0")), (Occur.Should, t("w3")), (Occur.Should, t("w4")),
      (Occur.MustNot, t("w2"))), Some(2))))),
    // dismax over a phrase and a boolean
    DisjunctionMaxQuery(Seq(phrase(Seq("w0", "w1"), 1), bool((Occur.Must, "w2"), (Occur.Should, "w3"))), 0.4),
    // duplicate clauses
    bool((Occur.Must, "w2"), (Occur.Must, "w2"), (Occur.Should, "w0"), (Occur.Should, "w0")),
    // a zero and a negative boost under should clauses
    BooleanQuery(Seq(
      (Occur.Should, t("w5")), (Occur.Should, BoostQuery(t("w0"), 0.0)),
      (Occur.Should, BoostQuery(t("w1"), -1.5)))),
    // negative scores in the top k: the bound must not prune them
    BooleanQuery(Seq((Occur.Should, BoostQuery(t("w0"), -1.0)), (Occur.Should, t("w40")))))

  /** `q` through topDocs (k = 10, and k = 10 at offset 5) and search equals the oracle. */
  private def assertTree(s: Searcher, q: Query): Unit = {
    val want = exhaustive(q, 15, s)
    assert(want.length == 15, s"$q: ${want.length} hits")
    val top = s.topDocs(q, 10)
    assert(top.queryExecution.executedPlan.toString.contains("LocalTableScan"), s"$q not routed")
    assertSame(rows(top), want.take(10))
    assertSame(rows(s.topDocs(q, 10, offset = 5)), want.slice(5, 15))
    assertSameSearch(s, q)
  }

  test("trees: topDocs and search equal the per-occurrence oracle") {
    trees.foreach(assertTree(searcher, _))
    // the negative boost bites: some top hit scores below 0
    assert(exhaustive(trees.last, 15).exists(_._3 < 0))
  }

  test("trees with tombstones: topDocs and search equal the oracle") {
    trees.foreach(assertTree(tombSearcher, _))
  }

  test("trees with fieldnorms off: topDocs and search equal the oracle") {
    val off = new Searcher(searcher.reader, schema, fieldnorms = false)
    trees.foreach(assertTree(off, _))
  }

  private def executed(q: Query): String =
    searcher.plan(q, searcher.reader.termDfs(WandTopK.eligible(q).get.pairs)).queryExecution.executedPlan.toString

  test("full results: a one-pair tree has no Exchange; a phrase has one Exchange and no Join") {
    for (q <- Seq(t("w0"), bool((Occur.Should, "w3"), (Occur.Should, "w3")), phrase(Seq("w0", "w0"), 0))) {
      val plan = executed(q)
      assert(plan.contains("block_kernel") && !plan.contains("Exchange"), s"$q: $plan")
    }
    for (q <- Seq(phrase(Seq("w0", "w1"), 0), phrase(Seq("w0", "w1", "w2"), 2))) {
      val plan = executed(q)
      assert(plan.contains("block_kernel"), s"$q: $plan")
      assert(plan.split("\n").count(_.contains("Exchange")) == 1, s"$q: $plan")
      assert(!plan.contains("Join"), s"$q: $plan")
    }
  }

  test("a block-routed explainTopDocs starts exactly 1 job") {
    for (q <- Seq(trees.head, phrase(Seq("w0", "w1"), 1), bags(2))) {
      searcher.explainTopDocs(q, 10).collect()
      // the walk reads its posting files on the driver: no job
      val stages = TestSpark.jobStages { searcher.explainTopDocs(q, 10).collect(); () }
      assert(stages == Nil, s"$q: stages per job $stages")
    }
  }

  test("explain rows equal the per-leaf detail scan where every matching leaf scores") {
    import org.apache.spark.sql.types.{StructField, StructType}
    val q = BooleanQuery(Seq(
      (Occur.Must, phrase(Seq("w0", "w1"), 1)), (Occur.Should, BoostQuery(t("w3"), 2.0)),
      (Occur.Should, t("w5")), (Occur.MustNot, t("w9"))))
    val json = StructType(Seq(StructField("details", WandTopK.explainSchema("details").dataType)))
    val explained = searcher.explainTopDocs(q, 10)
    val got = explained
      .select(col("segment_id"), col("doc_id"), explode(from_json(col("explain"), json)("details")).as("d"))
      .select(col("segment_id"), col("doc_id"), col("d.*"))
    val want = PerOccurrence.details(searcher, q)
      .join(explained.select("segment_id", "doc_id"), Seq("segment_id", "doc_id"), "left_semi")
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select("segment_id", "doc_id", "field", "term", "kind", "tf", "norm_id", "idf", "boost", "positions",
        "contribution")
      .collect().map(r => r.toSeq.init.map {
        case s: scala.collection.Seq[_] => s.toList
        case v => v
      } -> r.getDouble(10)).toMap
    val (g, w) = (keyed(got), keyed(want))
    assert(g.size >= 20 && g.keySet == w.keySet)
    g.foreach { case (k, c) => assert(math.abs(c - w(k)) < 1e-12, s"$k: $c vs ${w(k)}") }
  }

  // ---- docs-table leaves (range, exists, all, regex, term-range) in trees ----

  private def lenRange(lo: Option[String], hi: Option[String]): Query = RangeQuery("len_text", lo, hi)

  /** Trees holding at least one docs-table leaf, or a dismax whose tieBreaker
    * lies outside [0, 1].
    */
  private val docsTrees: Seq[Query] = Seq(
    // must term + should range
    BooleanQuery(Seq((Occur.Must, t("w0")), (Occur.Should, lenRange(Some("20"), Some("35"))))),
    // should term + should regex
    BooleanQuery(Seq((Occur.Should, t("w3")), (Occur.Should, RegexQuery("text", "w1[0-9]")))),
    // must exists + mustNot term
    BooleanQuery(Seq((Occur.Must, ExistsQuery("text")), (Occur.MustNot, t("w0")))),
    // must all + mustNot phrase
    BooleanQuery(Seq((Occur.Must, AllQuery), (Occur.MustNot, phrase(Seq("w0", "w1"), 0)))),
    // dismax over a term-range and a phrase
    DisjunctionMaxQuery(Seq(TermRangeQuery("text", Some("w30"), Some("w35")), phrase(Seq("w0", "w1"), 1)), 0.3),
    // a boosted range and two terms, msm 2
    BooleanQuery(Seq(
      (Occur.Should, BoostQuery(lenRange(Some("30"), None), 2.5)),
      (Occur.Should, t("w2")), (Occur.Should, t("w5"))), Some(2)),
    // a regex inside a nested should clause
    BooleanQuery(Seq((Occur.Must, t("w1")), (Occur.Should, BooleanQuery(Seq(
      (Occur.Must, t("w3")), (Occur.Should, RegexQuery("text", "w2[0-9]"))))))),
    // a pure docs tree
    BooleanQuery(Seq((Occur.Must, lenRange(Some("15"), Some("40"))), (Occur.MustNot, RegexQuery("text", "w4[0-9]")))),
    // a two-term dismax with tieBreaker 1.5
    DisjunctionMaxQuery(Seq(t("w0"), t("w3")), 1.5))

  /** `q` through topDocs (k = 10, and k = 10 at offset 5) and search equals
    * the oracle, whatever route it takes.
    */
  private def assertDocsTree(s: Searcher, q: Query): Unit = {
    val want = exhaustive(q, 15, s)
    assert(want.length == 15, s"$q: ${want.length} hits")
    assertSame(rows(s.topDocs(q, 10)), want.take(10))
    assertSame(rows(s.topDocs(q, 10, offset = 5)), want.slice(5, 15))
    val got = rows(s.search(q)).map { case (sg, d, sc) => (sg, d) -> sc }.toMap
    val all = rows(WandSpec.perOccurrence(s, q)).map { case (sg, d, sc) => (sg, d) -> sc }.toMap
    assert(got.keySet == all.keySet, s"$q: doc sets differ")
    got.foreach { case (k, sc) => assert(math.abs(sc - all(k)) < 1e-12, s"$q at $k: $sc vs ${all(k)}") }
  }

  test("docs-leaf trees: topDocs and search equal the per-occurrence oracle") {
    docsTrees.foreach(assertDocsTree(searcher, _))
  }

  test("docs-leaf trees with tombstones: topDocs and search equal the oracle") {
    docsTrees.foreach(assertDocsTree(tombSearcher, _))
  }

  test("docs-leaf trees with fieldnorms off: topDocs and search equal the oracle") {
    val off = new Searcher(searcher.reader, schema, fieldnorms = false)
    docsTrees.foreach(assertDocsTree(off, _))
  }

  test("docs-leaf trees take the kernel; a must term + range tree plans no Exchange") {
    docsTrees.foreach(assertSameSearch(searcher, _))
    // the term is required, so the tree has no leaf-only group
    val plan = searcher.plan(docsTrees.head, searcher.reader.termDfs(Seq(("text", "w0"))))
      .queryExecution.executedPlan.toString
    assert(plan.contains("block_kernel"), plan)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
  }

  /** The main corpus built at blockBits 4 in 3 segments, two of them then
    * merged at blockBits 6: `(index dir, the unmerged segment, the merged one)`.
    */
  private lazy val mixed: (String, Int, Int) = {
    val dir = Files.createTempDirectory("graft-wand-mixed").toString
    IndexBuilder.build(spark, corpus, schema, dir, "wandmixed",
      IndexBuilder.BuildConf(numSegments = 3, blockBits = 4))
    val segs = graft.index.Snapshots.latest(spark, dir).get.segments.sorted
    val merged = graft.index.Maintenance.mergeSegments(spark, dir, schema, segs.take(2), "wandmixed-m",
      IndexBuilder.BuildConf(blockBits = 6))
    (dir, segs(2), merged)
  }

  test("mixed block_bits: a blockBits 6 merge over a blockBits 4 build; docs-leaf trees equal the oracle") {
    val (dir, built, merged) = mixed
    val want = Map(built -> 4, merged -> 6)
    val written = spark.read.parquet(s"$dir/fieldstats")
      .filter(col("segment_id").isin(want.keys.toSeq.map(Integer.valueOf): _*))
      .select("segment_id", "block_bits").collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(written.length == want.size * schema.fields.size && written.toMap == want)
    // opening a reader and reading its field stats: on the driver, no job
    assert(TestSpark.jobStages { new IndexReader(spark, dir).fieldStats; () } == Nil)
    val s = new Searcher(new IndexReader(spark, dir), schema)
    assert(s.reader.blockBits == want)
    docsTrees.foreach { q => assertDocsTree(s, q); assertSameSearch(s, q) }
  }

  test("docs-leaf explain: one const row per matched docs leaf; contributions sum to the score") {
    import org.apache.spark.sql.types.{StructField, StructType}
    val json = StructType(Seq(StructField("details", WandTopK.explainSchema("details").dataType)))
    // shapes where every matching leaf's clause scores a hit
    for ((q, docsLeaves) <- Seq(
        docsTrees.head -> Seq(lenRange(Some("20"), Some("35")) -> 1.0),
        docsTrees(5) -> Seq(lenRange(Some("30"), None) -> 2.5))) {
      val explained = searcher.explainTopDocs(q, 10)
      val hits = rows(explained)
      assertSame(hits, exhaustive(q, 10))
      val got = explained
        .select(col("segment_id"), col("doc_id"), col("score"),
          explode(from_json(col("explain"), json)("details")).as("d"))
        .select(col("segment_id"), col("doc_id"), col("score"), col("d.*"))
      val sums = got.groupBy("segment_id", "doc_id", "score").agg(sum("contribution").as("c")).collect()
      assert(sums.length == 10)
      sums.foreach(r => assert(math.abs(r.getDouble(3) - r.getDouble(2)) < 1e-12, r.toString))
      // posting leaves: the per-leaf detail scan; docs leaves: one const row
      // (score × boost) per hit the leaf's own plan matches
      val hitKeys = explained.select("segment_id", "doc_id")
      val termRows = PerOccurrence.details(searcher, q).join(hitKeys, Seq("segment_id", "doc_id"), "left_semi")
      val constRows = docsLeaves.map { case (leaf, b) =>
        WandSpec.perOccurrence(searcher, leaf).join(hitKeys, Seq("segment_id", "doc_id"), "left_semi")
          .select(col("segment_id"), col("doc_id"), lit(null).cast("string").as("field"),
            lit(leaf.toString).as("term"), lit("const").as("kind"), lit(null).cast("int").as("tf"),
            lit(null).cast("int").as("norm_id"), lit(null).cast("double").as("idf"), lit(b).as("boost"),
            (col("score") * b).as("contribution"), lit(null).cast("array<int>").as("positions"))
      }
      def keyed(df: org.apache.spark.sql.DataFrame) = df
        .select("segment_id", "doc_id", "field", "term", "kind", "tf", "norm_id", "idf", "boost", "positions",
          "contribution")
        .collect().map(r => r.toSeq.init.map {
          case s: scala.collection.Seq[_] => s.toList
          case v => v
        } -> r.getDouble(10)).toMap
      val (g, w) = (keyed(got.drop("score")), keyed((termRows +: constRows).reduce(_ unionByName _)))
      assert(g.keySet == w.keySet, s"$q: detail rows differ")
      assert(g.keys.count(_(4) == "const") > 0, s"$q: no const row")
      g.foreach { case (k, c) => assert(math.abs(c - w(k)) < 1e-12, s"$k: $c vs ${w(k)}") }
    }
  }

  // ---- primed readers: the block store route equals the fresh reader's bucket-file reads ----

  /** `(segment_id, doc_id, raw score bits)` of each row, in order. */
  private def bits(df: org.apache.spark.sql.DataFrame) = WandSpec.bits(df)

  /** The walkable shapes of the text-only corpus, the edge cases included. */
  private val walkedShapes: Seq[Query] = Seq[Query](
    t("w0"),
    bool((Occur.Must, "w1"), (Occur.Should, "w3")),
    phrase(Seq("w0", "w1"), 1),
    phrase(Seq("w0", "w1", "w2"), 2),
    DisjunctionMaxQuery(Seq(t("w0"), t("w3"), t("w9")), 0.3),
    BooleanQuery(bool((Occur.Should, "w0"), (Occur.Should, "w3"), (Occur.Should, "w6")).clauses, Some(2)),
    bool((Occur.Should, "w0"), (Occur.Should, "w5"), (Occur.MustNot, "w1")),
    TermQuery("nosuchfield", "x"),
    t("nosuchterm"),
    phrase(Seq("w0", "nosuchterm"), 0)) ++ bags ++ trees

  test("primed reader: every walkable shape equals the fresh reader, bit for bit") {
    withPrimed(searcher)((fresh, primed) => walkedShapes.foreach(assertPrimedSame(fresh, primed, _)))
  }

  test("primed reader: cross-field head, raw mustNot and dismax equal the fresh reader") {
    val shapes = Seq[Query](
      BooleanQuery(Seq((Occur.Must, TermQuery("lang", "en")), (Occur.Should, t("w3")))),
      BooleanQuery(Seq((Occur.Should, t("w0")), (Occur.Should, t("w4")), (Occur.MustNot, TermQuery("lang", "en")))),
      DisjunctionMaxQuery(Seq(TermQuery("lang", "fr"), t("w2")), 0.3))
    withPrimed(langSearcher)((fresh, primed) => shapes.foreach(assertPrimedSame(fresh, primed, _)))
  }

  test("primed reader with tombstones, fieldnorms off and mixed block_bits equals the fresh reader") {
    val off = new Searcher(searcher.reader, schema, fieldnorms = false)
    val mixedSearcher = new Searcher(new IndexReader(spark, mixed._1), schema)
    for (s <- Seq(tombSearcher, off, mixedSearcher))
      withPrimed(s)((fresh, primed) => walkedShapes.foreach(assertPrimedSame(fresh, primed, _)))
  }

  test("primed reader: docs-leaf trees equal the fresh reader, bit for bit") {
    // plain, with tombstones, with fieldnorms off and with mixed block_bits
    val off = new Searcher(searcher.reader, schema, fieldnorms = false)
    val mixedSearcher = new Searcher(new IndexReader(spark, mixed._1), schema)
    for (s <- Seq(searcher, tombSearcher, off, mixedSearcher))
      withPrimed(s)((fresh, primed) => docsTrees.foreach(assertPrimedSame(fresh, primed, _)))
  }

  test("docs-leaf trees: top-k and explain start at most 2 jobs, no shuffle") {
    def requests(s: Searcher, q: Query) = Seq(
      () => { s.topDocs(q, 10).collect(); () }, () => { s.explainTopDocs(q, 10).collect(); () })
    val withLeaves = docsTrees.filter(q => WandTopK.eligible(q).get.opaques.nonEmpty)
    val fresh = new Searcher(new IndexReader(spark, searcher.reader.indexDir), schema)
    for (q <- withLeaves; req <- requests(fresh, q)) {
      req() // first use reads the stats and lists files
      // the posting files are read on the driver: the bitsets are the one job
      val stages = TestSpark.jobStages(req())
      assert(stages == Seq(1), s"fresh, $q: stages per job $stages")
    }
    // a primed reader looks its blocks up in-process: the bitsets are the one job
    withPrimed(searcher) { (_, primed) =>
      for (q <- withLeaves; req <- requests(primed, q)) {
        req()
        val stages = TestSpark.jobStages(req())
        assert(stages == Seq(1), s"primed, $q: stages per job $stages")
      }
    }
  }

  test("primed reader: four threads' top-k answers equal the serial answers") {
    withPrimed(searcher) { (_, primed) =>
      val queries = walkedShapes.take(7) ++ bags ++ trees
      val serial = queries.map(q => bits(primed.topDocs(q, 10)))
      val errors = new ConcurrentLinkedQueue[String]()
      val threads = (0 until 4).map { i =>
        val th = new Thread(() =>
          for (round <- 0 until 3; j <- queries.indices) {
            // each thread walks the list from its own starting point
            val k = (j + i * 5 + round) % queries.size
            val got = scala.util.Try(bits(primed.topDocs(queries(k), 10)))
            if (!got.toOption.contains(serial(k))) errors.add(s"thread $i, ${queries(k)}: $got")
          })
        th.start(); th
      }
      threads.foreach(_.join())
      assert(errors.isEmpty, errors.asScala.take(3).mkString("; "))
    }
  }

  // ---- the collector cache pages the walk's rows ----

  /** Each `page(limit, offset)` of `q` on `s` equals `topDocs(q, limit,
    * offset)`, rows with their schema and scores as raw bits, and its
    * has_next says whether row `offset + limit` exists. The windows, in
    * paging order: a block miss, a hit in the cached block, k = 0, a window
    * inside the second block, two that span blocks, and the last 5 hits.
    */
  private def assertPages(s: Searcher, q: Query)(page: (Int, Int) => (Array[org.apache.spark.sql.Row], Boolean)): Unit = {
    val ranked = s.topDocs(q, 1000).collect() // every hit of the 500-doc corpus
    assert(ranked.length > 105, s"$q: ${ranked.length} hits")
    for ((limit, offset) <- Seq((10, 0), (10, 5), (0, 0), (20, 100), (10, 95), (30, 180), (10, ranked.length - 5))) {
      val (got, hasNext) = page(limit, offset)
      val want = s.topDocs(q, limit, offset)
      assert(rowBits(got) == bits(want), s"$q at limit $limit offset $offset")
      assert(got.forall(_.schema == want.schema), s"$q: ${got.headOption.map(_.schema)}")
      assert(hasNext == (ranked.length > offset + limit), s"$q at limit $limit offset $offset: has_next $hasNext")
    }
  }

  private def rowBits(rs: Array[org.apache.spark.sql.Row]) =
    rs.map(r => (r.getInt(0), r.getInt(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSeq

  test("collector-cache pages equal topDocs windows, fresh and primed, with tombstones and fieldnorms off") {
    val shapes = Seq[Query](t("w0"), bool((Occur.Must, "w0"), (Occur.Should, "w5"), (Occur.MustNot, "w49")),
      phrase(Seq("w0", "w1"), 2), docsTrees.head)
    val off = new Searcher(searcher.reader, schema, fieldnorms = false)
    for (s <- Seq(searcher, tombSearcher, off)) withPrimed(s) { (fresh, primed) =>
      // the fresh reader pages through the shared cache; the primed one, on
      // the same index and so the same cache keys, through its own cache
      val own = new CollectorCache()
      for (q <- shapes) {
        assertPages(fresh, q)(fresh.collectTopDocs(q, _, _))
        assertPages(primed, q)(own.topDocs(primed, q, _, _))
      }
    }
  }
}

object WandSpec {
  import org.scalatest.Assertions._

  /** `q`'s scored doc set by the per-occurrence oracle, tombstones applied. */
  def perOccurrence(s: Searcher, q: Query): org.apache.spark.sql.DataFrame = PerOccurrence.search(s, q)

  /** `(segment_id, doc_id, raw score bits)` of each row, in order. */
  def bits(df: org.apache.spark.sql.DataFrame): Seq[(Int, Int, Long)] =
    df.collect().map(r => (r.getInt(0), r.getInt(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSeq

  /** `body(fresh, primed)`: two new searchers over `s`'s index with its
    * schema and fieldnorms toggle, the second primed for the call.
    */
  def withPrimed(s: Searcher)(body: (Searcher, Searcher) => Unit): Unit = {
    def open() = new Searcher(new IndexReader(s.reader.spark, s.reader.indexDir), s.schema, s.fieldnorms)
    val (fresh, primed) = (open(), open())
    Reflection.prime(primed.reader)
    try {
      assert(primed.reader.store.nonEmpty && fresh.reader.store.isEmpty)
      body(fresh, primed)
    } finally Reflection.unprime(primed.reader)
  }

  /** Walkable `q` gives the same top-k (k = 10, offset 5, k = 0), explain
    * and term dfs on a primed reader as on a fresh one, scores as raw bits.
    */
  def assertPrimedSame(fresh: Searcher, primed: Searcher, q: Query): Unit = {
    val plan = WandTopK.eligible(primed.resolve(q))
    assert(plan.nonEmpty, s"expected $q to be walkable")
    for ((k, offset) <- Seq((10, 0), (10, 5), (0, 0)))
      assert(bits(primed.topDocs(q, k, offset)) == bits(fresh.topDocs(q, k, offset)), s"$q at k $k offset $offset")
    def explained(s: Searcher) = s.explainTopDocs(q, 10).collect()
      .map(r => (r.getInt(0), r.getInt(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getString(3))).toSeq
    assert(explained(primed) == explained(fresh), s"$q: explain differs")
    val pairs = plan.get.pairs :+ ("text", "nosuchterm")
    assert(primed.reader.termDfs(pairs) == fresh.reader.termDfs(pairs), s"$q: dfs differ")
  }
}
