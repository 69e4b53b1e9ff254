package graft.search

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.index.{FieldDef, IndexBuilder, IndexSchema, Maintenance}

/** C8 collector cache — reference `collector_cache.rs:7-109` semantics:
  * block quantization, slicing, has_next adjustment, commit invalidation.
  */
class CollectorCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = IndexSchema(
    keyField = "doc_id",
    fields = Seq(FieldDef("text", "summa", "position")),
    defaultFields = Seq("text"))

  private def buildIndex(n: Int): String = {
    val dir = Files.createTempDirectory("graft-ccache").toString
    val rnd = new scala.util.Random(5)
    val vocab = Vector("spark", "window", "merge", "table", "scan")
    val df = Vector.tabulate(n)(i =>
      (i.toLong, ("spark " * (1 + i % 3)) + Vector.fill(10)(vocab(rnd.nextInt(5))).mkString(" ")))
      .toDF("doc_id", "text")
    IndexBuilder.build(spark, df, schema, dir, "cc", IndexBuilder.BuildConf(numSegments = 2))
    dir
  }

  test("block quantization eligibility matches the reference rule") {
    val c = new CollectorCache()
    assert(c.isCacheable(10, 0))
    assert(c.isCacheable(100, 0))
    assert(c.isCacheable(10, 90))   // [90, 100) fits block 0
    assert(!c.isCacheable(11, 90))  // [90, 101) spans blocks
    assert(c.isCacheable(50, 150))  // [150, 200) fits block 1
    assert(!c.isCacheable(101, 0))
  }

  test("paging within one block hits the cached block; slices are identical to direct fetch") {
    val dir = buildIndex(250)
    val s = new Searcher(new IndexReader(spark, dir), schema)
    val c = new CollectorCache()
    val q = TermQuery("text", "spark")

    val (p1, hn1) = c.topDocs(s, q, 10, 0)
    assert(p1.length == 10 && hn1)
    assert(c.size == 1)
    val (p2, hn2) = c.topDocs(s, q, 10, 10) // same block — no new entry
    assert(p2.length == 10 && hn2 && c.size == 1)
    // slices equal the uncached plan
    val direct = s.topDocs(q, 20, 0).collect()
    assert(p1.toSeq ++ p2.toSeq == direct.toSeq)
    // next block → second entry
    val (p3, _) = c.topDocs(s, q, 10, 100)
    assert(p3.toSeq == s.topDocs(q, 10, 100).collect().toSeq)
    assert(c.size == 2)
    // has_next false at the true end of the result set
    val total = s.count(q).toInt
    val lastOffset = (total - 1) / 100 * 100
    val (_, hnEnd) = c.topDocs(s, q, 100, lastOffset)
    assert(!hnEnd)
  }

  test("serving path: repeated collectTopDocs triggers NO Spark job") {
    val dir = buildIndex(150)
    val s = new Searcher(new IndexReader(spark, dir), schema) // default shared cache
    val q = TermQuery("text", "window")
    val (first, _) = s.collectTopDocs(q, 10, 0) // populates the block
    assert(first.length == 10)
    val sc = spark.sparkContext
    sc.setJobGroup("cc-probe", "collector cache probe", interruptOnCancel = false)
    try {
      val (again, _) = s.collectTopDocs(q, 10, 0)
      assert(again.toSeq == first.toSeq)
      // paging within the same cached block is also job-free
      val (page2, _) = s.collectTopDocs(q, 10, 10)
      assert(page2.length == 10)
    } finally sc.clearJobGroup()
    Thread.sleep(500) // status store updates are async
    assert(sc.statusTracker.getJobIdsForGroup("cc-probe").isEmpty,
      "a cache hit must not plan or run any Spark job")
  }

  test("count/facet/agg fruits cache: repeated requests trigger NO Spark job") {
    // the index of buildIndex(120) plus a stored array<string> facet column
    val dir = Files.createTempDirectory("graft-ccache-facets").toString
    val facetSchema = schema.copy(storedFields = Seq("facets"))
    val rnd = new scala.util.Random(5)
    val vocab = Vector("spark", "window", "merge", "table", "scan")
    val docs = Vector.tabulate(120)(i =>
      (i.toLong, ("spark " * (1 + i % 3)) + Vector.fill(10)(vocab(rnd.nextInt(5))).mkString(" "),
        Seq("/kind", s"/kind/k${i % 4}") ++ (if (i % 5 == 0) Seq("/lang", "/lang/en") else Nil)))
    IndexBuilder.build(spark, docs.toDF("doc_id", "text", "facets"), facetSchema, dir, "ccf",
      IndexBuilder.BuildConf(numSegments = 2))
    val s = new Searcher(new IndexReader(spark, dir), facetSchema) // shared cache
    val q = TermQuery("text", "merge")
    // populate all three fruits
    val n = s.collectCount(q)
    assert(n > 0)
    val agg = Collectors.StatsAgg("doc_id")
    val aggFirst = s.collectAggregate(q, agg)
    assert(aggFirst.nonEmpty)
    val facetsFirst = s.collectFacetCounts(q, "facets", "/kind")
    assert(facetsFirst.toSeq ==
      Collectors.facetCounts(s.searchWithDocs(q), "facets", "/kind").collect().toSeq)
    assert(facetsFirst.map(_.getString(0)).toSet.subsetOf(Set.tabulate(4)(k => s"/kind/k$k")) &&
      facetsFirst.map(_.getLong(1)).sum == n)
    val sc = spark.sparkContext
    sc.setJobGroup("cc-fruit-probe", "fruit cache probe", interruptOnCancel = false)
    try {
      assert(s.collectCount(q) == n)
      assert(s.collectAggregate(q, agg).toSeq == aggFirst.toSeq)
      assert(s.collectFacetCounts(q, "facets", "/kind").toSeq == facetsFirst.toSeq)
    } finally sc.clearJobGroup()
    Thread.sleep(500)
    assert(sc.statusTracker.getJobIdsForGroup("cc-fruit-probe").isEmpty,
      "a repeated count/facet/agg request must not plan or run any Spark job")
    // a different collector descriptor over the same query is a distinct key
    val agg2 = Collectors.TermsAgg("doc_id", 3)
    assert(s.collectAggregate(q, agg2).nonEmpty)
  }

  test("a commit invalidates via the snapshot-versioned key") {
    val dir = buildIndex(120)
    val s1 = new Searcher(new IndexReader(spark, dir), schema)
    val c = new CollectorCache()
    val q = TermQuery("text", "spark")
    val (before, _) = c.topDocs(s1, q, 5, 0)
    Maintenance.addDocuments(spark, dir, schema,
      Seq((1000L, "spark spark spark spark spark spark")).toDF("doc_id", "text"), "cc2")
    val s2 = new Searcher(new IndexReader(spark, dir), schema)
    val (after, _) = c.topDocs(s2, q, 5, 0)
    assert(c.size == 2, "new snapshot must be a distinct cache key")
    assert(before.toSeq != after.toSeq, "new top doc should surface post-commit")
  }

  test("TTL expiry and LRU bound") {
    val dir = buildIndex(60)
    val s = new Searcher(new IndexReader(spark, dir), schema)
    val shortTtl = new CollectorCache(maxEntries = 2, ttlMillis = 1L)
    shortTtl.topDocs(s, TermQuery("text", "spark"), 5, 0)
    Thread.sleep(5)
    shortTtl.removeExpired()
    assert(shortTtl.size == 0)
    val lru = new CollectorCache(maxEntries = 2)
    lru.topDocs(s, TermQuery("text", "spark"), 5, 0)
    lru.topDocs(s, TermQuery("text", "merge"), 5, 0)
    lru.topDocs(s, TermQuery("text", "table"), 5, 0)
    assert(lru.size == 2, "LRU bound must hold")
  }
}
