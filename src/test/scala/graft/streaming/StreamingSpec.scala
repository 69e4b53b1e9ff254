package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.index.{FieldDef, IndexBuilder, IndexSchema, Snapshots}
import graft.search._

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = IndexSchema(
    keyField = "doc_id",
    fields = Seq(FieldDef("text", "summa", "position")),
    defaultFields = Seq("text"))

  test("file-stream ingestion: batches become snapshot commits, upsert is idempotent") {
    val work = Files.createTempDirectory("graft-stream").toString
    val src = s"$work/src"
    val idx = s"$work/index"
    val ck = s"$work/ck"
    new java.io.File(src).mkdirs()

    def runStream(): Unit = {
      val q = StreamingIngest.start(
        spark, src, Seq.empty[(Long, String)].toDF("doc_id", "text").schema,
        idx, schema, ck)
      q.awaitTermination()
    }

    Seq((1L, "spark window"), (2L, "merge table")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    runStream()
    val s1 = new Searcher(new IndexReader(spark, idx), schema)
    assert(s1.count(AllQuery) == 2)
    assert(s1.count(TermQuery("text", "spark")) == 1)

    // second batch overwrites doc 2 and adds doc 3
    Seq((2L, "spark spark"), (3L, "scan filter")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    runStream()
    val s2 = new Searcher(new IndexReader(spark, idx), schema)
    assert(s2.count(AllQuery) == 3)
    assert(s2.count(TermQuery("text", "merge")) == 0, "doc 2 must be overwritten")
    assert(s2.count(TermQuery("text", "spark")) == 2)
    assert(Snapshots.latest(spark, idx).get.version >= 2)
  }

  test("search('dir', ...) over a Trigger.AvailableNow index counts the IndexBuilder.build hits") {
    val work = Files.createTempDirectory("graft-stream-sql").toString
    val docs = Seq((1L, "spark window"), (2L, "merge table"), (3L, "spark spark scan")).toDF("doc_id", "text")
    docs.coalesce(1).write.parquet(s"$work/src")
    StreamingIngest.start(spark, s"$work/src", docs.schema, s"$work/index", schema, s"$work/ck")
      .awaitTermination()
    IndexBuilder.build(spark, docs, schema, s"$work/built", "built")
    graft.plans.GraftSql.install(spark)
    def hits(d: String) = spark.sql(s"SELECT count(*) FROM search('$d', 'spark')").collect()(0).getLong(0)
    assert(hits(s"$work/index") == hits(s"$work/built") && hits(s"$work/built") == 2L)
  }

  test("compaction scheduling: segments merge down during ingestion, results intact") {
    val work = Files.createTempDirectory("graft-stream-compact").toString
    val src = s"$work/src"
    val idx = s"$work/index"
    val ck = s"$work/ck"
    new java.io.File(src).mkdirs()

    def runStream(): Unit = {
      val q = StreamingIngest.startFrom(
        spark, StreamingIngest.Source.Files(src, Seq.empty[(Long, String)].toDF("doc_id", "text").schema),
        idx, schema, ck,
        compactEvery = 2, compactMinSegments = 3)
      q.awaitTermination()
    }

    (0 until 6).foreach { b =>
      Seq((b.toLong, s"spark doc$b")).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(src)
      runStream()
    }
    val snap = Snapshots.latest(spark, idx).get
    // 6 one-segment batches ingested; scheduled autoCompact must have merged
    assert(snap.segments.size < 6, s"expected compaction, got ${snap.segments}")
    val s = new Searcher(new IndexReader(spark, idx), schema)
    assert(s.count(AllQuery) == 6)
    assert(s.count(TermQuery("text", "spark")) == 6)
    (0 until 6).foreach(b => assert(s.count(TermQuery("text", s"doc$b")) == 1))
  }

  test("windowed event counts with watermark (streaming plan sanity)") {
    // batch-mode execution of the same plan validates the aggregation shape
    val events = Seq(
      ("2026-01-01 00:00:10", "click"),
      ("2026-01-01 00:00:50", "click"),
      ("2026-01-01 00:01:10", "view")
    ).toDF("ts_s", "event_type").select(to_timestamp($"ts_s").as("ts"), $"event_type")
    val counts = StreamingIngest
      .windowedEventCounts(events, "ts", "1 minute", "10 seconds", Some("event_type"))
      .orderBy("window_start", "event_type")
      .collect()
    assert(counts.map(r => (r.getString(2), r.getLong(3))).toSeq == Seq(("click", 2L), ("view", 1L)))
  }
}
