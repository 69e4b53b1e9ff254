package graft.search

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.{HashPartitioner, SparkEnv}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.storage.RDDBlockId
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.index.{FieldDef, IndexBuilder, IndexSchema, Maintenance}

class RegistrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = IndexSchema(
    keyField = "doc_id",
    fields = Seq(FieldDef("text", "summa", "position")),
    defaultFields = Seq("text"))

  test("registry: aliases, cross-index merged top-k, export, top terms, warmup") {
    def mk(docs: Seq[(Long, String)], tag: String): Searcher = {
      val dir = Files.createTempDirectory(s"graft-reg-$tag").toString
      IndexBuilder.build(spark, docs.toDF("doc_id", "text"), schema, dir, tag,
        IndexBuilder.BuildConf(numSegments = 2))
      new Searcher(new IndexReader(spark, dir), schema)
    }
    val a = mk(Seq((1L, "spark window"), (2L, "spark spark merge")), "a")
    val b = mk(Seq((10L, "spark table"), (11L, "scan filter")), "b")

    val reg = new IndexRegistry
    reg.register("idx_a", a)
    reg.register("idx_b", b)
    reg.addAlias("primary", "idx_a")
    assert(reg.resolve("primary") eq a)

    val merged = reg.searchAll(Seq("idx_a", "idx_b"), TermQuery("text", "spark"), 10).collect()
    assert(merged.length == 3)
    assert(merged.map(_.getAs[String]("index_name")).toSet == Set("idx_a", "idx_b"))

    val top = Reflection.topTerms(a.reader, "text", 2).collect()
    assert(top.head.getString(0) == "spark" && top.head.getLong(1) == 2L)
    val perSeg = Reflection.topTermsPerSegment(a.reader, "text", 5).collect()
    assert(perSeg.nonEmpty)

    val export = Reflection.exportDocuments(a, Some(TermQuery("text", "merge")), Seq("key"))
      .collect().map(_.getString(0))
    assert(export.toSeq == Seq("2"))
    assert(Reflection.exportDocuments(a).count() == 2)

    Reflection.warmup(a.reader) // smoke: no exceptions
  }

  /** The jobs, tasks and SQL executions `body` starts, seen by a listener
    * scoped to a job group (SQL executions are counted from any thread); a
    * marker job in a second group flushes the listener queue.
    */
  private def traffic(body: => Unit): (Int, Int, Int) = {
    val sc = spark.sparkContext
    val group = s"prime-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val sql = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      private def inGroup(p: java.util.Properties) =
        Option(p).map(_.getProperty("spark.jobGroup.id")).contains(group)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (inGroup(e.properties)) jobs.incrementAndGet()
        else if (Option(e.properties).map(_.getProperty("spark.jobGroup.id")).contains(s"$group-flush"))
          flushed.countDown()
      // a submitted stage runs its tasks; a skipped one is never submitted
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (inGroup(e.properties)) tasks.addAndGet(e.stageInfo.numTasks)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => sql.incrementAndGet()
        case _                                 =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "prime route")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-flush", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener flush job never seen")
    } finally sc.removeSparkListener(listener)
    (jobs.get, tasks.get, sql.get)
  }

  test("prime: queries scan the columnar cache, unprime releases it") {
    val dir = Files.createTempDirectory("graft-reg-prime").toString
    IndexBuilder.build(spark,
      Seq((1L, "spark window"), (2L, "merge table"), (3L, "spark scan"))
        .toDF("doc_id", "text"),
      schema, dir, "prime", IndexBuilder.BuildConf(numSegments = 2))
    val s = new Searcher(new IndexReader(spark, dir), schema)

    def physical(q: Query): String =
      s.search(q).queryExecution.executedPlan.toString

    val walked = Seq[Query](TermQuery("text", "spark"),
      BooleanQuery(Seq((Occur.Must, TermQuery("text", "spark")), (Occur.Should, TermQuery("text", "scan")),
        (Occur.Should, TermQuery("text", "table")))))
    def top(q: Query) = s.topDocs(q, 10).collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSeq

    assert(!physical(TermQuery("text", "spark")).contains("InMemoryTableScan"))
    Reflection.prime(s.reader)
    val storeRdd = s.reader.store.get.rdd
    val primedTop = try {
      // CacheManager fragment-matching: the SAME query plan now scans the
      // in-memory relation without any query-side change
      assert(physical(TermQuery("text", "spark")).contains("InMemoryTableScan"))
      val hits = s.search(TermQuery("text", "spark")).collect()
      assert(hits.length == 2)
      // on a local master the driver holds every store partition, so a
      // walkable top-k and a df probe read them in-process: no job, no task,
      // no SQL execution
      assert(spark.sparkContext.getPersistentRDDs.contains(storeRdd.id))
      walked.map { q =>
        val walk = traffic { s.topDocs(q, 10); () }
        assert(walk == ((0, 0, 0)), s"$q: (jobs, tasks, SQL) of the walk $walk")
        val dfs = traffic { s.reader.termDfs(WandTopK.eligible(q).get.pairs); () }
        assert(dfs == ((0, 0, 0)), s"$q: (jobs, tasks, SQL) of termDfs $dfs")
        top(q)
      }
    } finally Reflection.unprime(s.reader)
    assert(!physical(TermQuery("text", "spark")).contains("InMemoryTableScan"))
    assert(s.reader.store.isEmpty && !spark.sparkContext.getPersistentRDDs.contains(storeRdd.id))
    // the posting-table route returns the same rows
    assert(walked.map(top) == primedTop && primedTop.head.size == 2)
  }

  test("prime: a collector-cache miss pages the walk's rows with no job, task or SQL execution") {
    val dir = Files.createTempDirectory("graft-reg-miss").toString
    IndexBuilder.build(spark,
      Seq((1L, "spark window"), (2L, "merge table"), (3L, "spark scan"), (4L, "spark spark merge"))
        .toDF("doc_id", "text"),
      schema, dir, "miss", IndexBuilder.BuildConf(numSegments = 2))
    val s = new Searcher(new IndexReader(spark, dir), schema)
    val q = BooleanQuery(Seq((Occur.Should, TermQuery("text", "spark")), (Occur.Should, TermQuery("text", "merge"))))
    Reflection.prime(s.reader)
    try {
      val want = s.topDocs(q, 10).collect().toSeq // the first request reads the reader's stats
      var page = (Array.empty[org.apache.spark.sql.Row], true)
      val miss = traffic { page = new CollectorCache().topDocs(s, q, 10, 0); () }
      assert(miss == ((0, 0, 0)), s"(jobs, tasks, SQL) of a cache miss $miss")
      assert(page._1.toSeq == want && want.size == 4 && !page._2)
    } finally Reflection.unprime(s.reader)
  }

  private val lookupDocs = Seq((1L, "spark window"), (2L, "merge table"), (3L, "spark scan"),
    (4L, "window merge scan"), (5L, "table spark filter"), (6L, "filter window"))

  private def bits(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getInt(0), r.getInt(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSeq

  test("prime: store partitions the driver lost are read by one job, with the fresh reader's answers") {
    val dir = Files.createTempDirectory("graft-reg-lost").toString
    IndexBuilder.build(spark, lookupDocs.toDF("doc_id", "text"), schema, dir, "lost",
      IndexBuilder.BuildConf(numSegments = 2))
    val fresh = new Searcher(new IndexReader(spark, dir), schema)
    val s = new Searcher(new IndexReader(spark, dir), schema)
    val q = BooleanQuery(Seq("spark", "window", "merge", "table", "scan", "filter")
      .map(t => (Occur.Should, TermQuery("text", t): Query)))
    val pairs = WandTopK.eligible(s.resolve(q)).get.pairs
    val want = (bits(fresh.topDocs(q, 10)), fresh.reader.termDfs(pairs))
    Reflection.prime(s.reader)
    try {
      val store = s.reader.store.get
      val parts = new HashPartitioner(store.rdd.getNumPartitions)
      val wanted = pairs.map(parts.getPartition).distinct.sorted
      assert(wanted.size >= 2, s"the query's terms hash to $wanted")
      // the first wanted partition stays in-process; the job recomputes the
      // others from the store's shuffle and caches them again, so they are
      // dropped again before each lookup
      val lost = wanted.tail
      def dropLost(): Unit =
        lost.foreach(p => SparkEnv.get.blockManager.removeBlock(RDDBlockId(store.rdd.id, p)))
      dropLost()
      var top: org.apache.spark.sql.DataFrame = null
      val walk = traffic { top = s.topDocs(q, 10); () }
      dropLost()
      var dfs = Map.empty[(String, String), Long]
      val probe = traffic { dfs = s.reader.termDfs(pairs); () }
      Seq(walk, probe).foreach(t => assert(t == ((1, lost.size, 0)), s"(jobs, tasks, SQL) $t, ${lost.size} lost"))
      assert((bits(top), dfs) == want)
      assert(want._1.nonEmpty && want._2.size == pairs.size)
    } finally Reflection.unprime(s.reader)
  }

  test("fresh reader: an open and a first walk start only the fieldstats, posting and tombstone reads") {
    val dir = Files.createTempDirectory("graft-reg-fresh").toString
    val words = Vector("spark", "window", "merge", "table", "scan", "filter")
    val docs = Seq.tabulate(60)(i => (i.toLong, Seq.tabulate(3 + i % 4)(j => words((i * 7 + j * 5) % 6)).mkString(" ")))
    IndexBuilder.build(spark, docs.toDF("doc_id", "text"), schema, dir, "fresh",
      IndexBuilder.BuildConf(numSegments = 3))
    Maintenance.deleteDocs(spark, dir, new IndexReader(spark, dir).docs.filter($"doc_id" % 4 === 0))
    val s = new Searcher(new IndexReader(spark, dir), schema)
    val q = BooleanQuery(Seq((Occur.Should, TermQuery("text", "spark")), (Occur.Should, TermQuery("text", "scan"))))
    val sc = spark.sparkContext
    val group = s"fresh-${System.nanoTime()}"
    // the group's jobs and SQL executions: the snapshot, fieldstats,
    // tombstones and the walk's posting files are all read on the driver
    val jobs = new ConcurrentLinkedQueue[Int]()
    val executions = new ConcurrentLinkedQueue[String]()
    TestSpark.listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).map(_.getProperty("spark.jobGroup.id")).contains(group)) jobs.add(e.jobId)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart if x.jobGroupId.contains(group) => executions.add(x.physicalPlanDescription)
        case _ =>
      }
    }) {
      sc.setJobGroup(group, "fresh reader")
      try {
        s.reader.snapshot; s.reader.fieldStats; s.reader.deletes
        // the walk's rows (a `topDocs` collect adds one SQL execution, the
        // scan of its local relation of hits, which reads no table)
        assert(s.topRows(q, 10, 0).length == 10)
      } finally sc.clearJobGroup()
    }
    assert(s.reader.tombstones.nonEmpty)
    assert(jobs.isEmpty, s"jobs ${jobs.asScala.toSeq}")
    assert(executions.isEmpty, s"SQL executions: ${executions.asScala.toSeq}")
  }

  test("prime: a lookup whose body throws releases its partitions' read locks") {
    val dir = Files.createTempDirectory("graft-reg-lock").toString
    IndexBuilder.build(spark, lookupDocs.toDF("doc_id", "text"), schema, dir, "lock",
      IndexBuilder.BuildConf(numSegments = 1))
    val s = new Searcher(new IndexReader(spark, dir), schema)
    Reflection.prime(s.reader)
    try {
      val store = s.reader.store.get
      val pairs = Seq("spark", "window", "merge").map(t => ("text", t))
      intercept[IllegalStateException] {
        store.lookup[Int](pairs)((_, _) => throw new IllegalStateException("lookup body"))
      }
      // a leaked read lock makes a blocking unpersist wait for ever
      val unpersisted = Future(store.rdd.unpersist(blocking = true))(ExecutionContext.global)
      Await.result(unpersisted, 60.seconds)
    } finally Reflection.unprime(s.reader)
  }

  test("exportNamedJson: multi_fields render as arrays, others collapse (golden)") {
    val mschema = IndexSchema(
      keyField = "doc_id",
      fields = Seq(FieldDef("text", "summa", "position")),
      defaultFields = Seq("text"),
      storedFields = Seq("title", "tags"))
    val dir = Files.createTempDirectory("graft-reg-json").toString
    val docs = Seq(
      (1L, "spark window", "Guide", Seq("reality", "novel")),
      (2L, "merge table", "Envy", Seq("scifi")))
      .toDF("doc_id", "text", "title", "tags")
    IndexBuilder.build(spark, docs, mschema, dir, "nj", IndexBuilder.BuildConf(numSegments = 1))
    val s = new Searcher(new IndexReader(spark, dir), mschema)

    // reference custom_serializer.rs:26-45: multi-field "tags" → array,
    // array-typed non-multi collapses to its first value, scalars pass;
    // fields emit name-sorted (BTreeMap)
    val multi = Reflection.exportNamedJson(
      s, fields = Seq("title", "tags"), multiFields = Set("tags"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(multi("1") == """{"tags":["reality","novel"],"title":"Guide"}""")
    assert(multi("2") == """{"tags":["scifi"],"title":"Envy"}""")

    val collapsed = Reflection.exportNamedJson(
      s, fields = Seq("title", "tags"), multiFields = Set("title"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(collapsed("1") == """{"tags":"reality","title":["Guide"]}""")

    // default fields = Nil: emits every doc column EXCEPT the reserved
    // key/segment_id/doc_id/score set — regression for the duplicate-key
    // ambiguous-reference bug (key must appear once, as the outer column)
    val dflt = Reflection.exportNamedJson(s)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dflt("1").contains(""""title":"Guide""""))
    assert(!dflt("1").contains(""""key""""))
  }
}
