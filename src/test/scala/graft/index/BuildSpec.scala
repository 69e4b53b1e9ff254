package graft.index

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The build's stats tail: what it writes, and that it runs no Spark job. */
class BuildSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = IndexSchema(
    keyField = "doc_id",
    fields = Seq(FieldDef("text", "summa", "position"), FieldDef("title", "summa", "freq")),
    defaultFields = Seq("text"))

  private def corpus(n: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector.tabulate(40)(i => s"w$i")
    def words(k: Int) = Vector.fill(k)(vocab(math.min((math.abs(rnd.nextGaussian()) * 12).toInt, 39))).mkString(" ")
    Vector.tabulate(n)(i => (i.toLong, words(5 + rnd.nextInt(40)), words(1 + rnd.nextInt(4))))
      .toDF("doc_id", "text", "title")
  }

  test("multi-block build: each segment's metrics row equals its written postings") {
    val dir = Files.createTempDirectory("graft-build-metrics").toString
    IndexBuilder.build(spark, corpus(300, 5), schema, dir, "b0",
      IndexBuilder.BuildConf(numSegments = 3, blockBits = 4))
    val postings = spark.read.parquet(s"$dir/postings")
    val segs = Snapshots.latest(spark, dir).get.segments
    assert(segs.size == 3)
    // several blocks per term, so counting rows would not count terms
    assert(postings.groupBy("segment_id", "field", "term").count().filter(col("count") > 1).count() > 0)
    segs.foreach(s => MergeCheck.assertMetricsMatch(spark, dir, s, postings.filter(col("segment_id") === s)))
  }

  test("postings are segment-aligned: max(parts, segments) files per build, parts per merge") {
    def files(dir: String, seg: Int): Int = IndexDigest.files(spark, dir, s"postings/segment_id=$seg")
    def build(numSegments: Int): (String, Seq[Int], IndexBuilder.BuildConf) = {
      val dir = Files.createTempDirectory(s"graft-build-layout$numSegments").toString
      val conf = IndexBuilder.BuildConf(numSegments = numSegments, buildPartitions = 4)
      IndexBuilder.build(spark, corpus(300, 7), schema, dir, "b0", conf)
      val segs = Snapshots.latest(spark, dir).get.segments
      assert(segs.size == numSegments)
      (dir, segs, conf)
    }
    val (d8, segs8, _) = build(8)
    assert(segs8.map(files(d8, _)) == Seq.fill(8)(1))
    val (d2, segs2, conf2) = build(2)
    assert(segs2.map(files(d2, _)) == Seq(2, 2))
    val merged = Maintenance.mergeSegments(spark, d2, schema, segs2, "m0", conf2)
    assert(files(d2, merged) == 4)
    // a fragment of a segment the write was not given fails the write
    val fragments = spark.read.parquet(s"$d8/postings").select(IndexBuilder.packSchema.fieldNames.map(col): _*)
    val e = intercept[Exception](IndexBuilder.writePostings(fragments, 4,
      Files.createTempDirectory("graft-build-stray").toString, segs8.take(1)))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("posting fragment of a segment outside the write")))
  }

  test("a build starts no Spark job after its postings write") {
    val dir = Files.createTempDirectory("graft-build-tail").toString
    // in the order the listener saw them: SQL execution starts (id, plan)
    // and ends (id, null), and job starts (their execution id, or -1)
    val events = new ConcurrentLinkedQueue[(String, Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (!p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).contains(TestSpark.FlushGroup))
          events.add(("job", p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
            .fold(-1L)(_.toLong), null))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => events.add(("start", s.executionId, s.physicalPlanDescription))
        case s: SparkListenerSQLExecutionEnd   => events.add(("end", s.executionId, null))
        case _                                 =>
      }
    }
    val pages = corpus(200, 6)
    TestSpark.listening(listener) {
      IndexBuilder.build(spark, pages, schema, dir, "b0", IndexBuilder.BuildConf(numSegments = 3))
    }
    val seen = events.asScala.toSeq
    def writeOf(table: String): Long = {
      val ids = seen.collect {
        case ("start", id, plan) if plan.contains("InsertIntoHadoopFsRelationCommand") &&
            plan.contains(s"$dir/$table,") => id
      }
      assert(ids.size == 1, s"$table writes: $ids")
      ids.head
    }
    val (postingsWrite, docsWrite) = (writeOf("postings"), writeOf("docs"))
    assert(seen.contains(("job", postingsWrite, null)))
    val end = seen.indexOf(("end", postingsWrite, null))
    assert(end >= 0)
    // the docs write runs concurrently with the postings write and may
    // still start jobs; nothing else may
    val late = seen.drop(end).collect { case ("job", id, _) if id != docsWrite => id }
    assert(late.isEmpty, s"jobs after the postings write, by SQL execution: $late")
    // and the tail still wrote its tables
    assert(spark.read.parquet(s"$dir/fieldstats").count() == 3 * schema.fields.size)
    assert(spark.read.parquet(s"$dir/metrics").count() == 3)
  }
}
