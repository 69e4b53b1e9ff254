package graft.search

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.index.{FieldDef, IndexBuilder, IndexSchema, Maintenance, Snapshots}

/** A fresh reader's term lookups read only the posting files that can hold
  * their terms: each segment's fieldstats rows record the bucket layout its
  * postings were written with, and the reader names a term's file from it.
  */
class FreshReaderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = IndexSchema(
    keyField = "doc_id",
    fields = Seq(FieldDef("text", "summa", "position")),
    defaultFields = Seq("text"))

  /** 400 docs over a zipfian-ish vocab of 40 terms, ids from `from`. */
  private def corpus(from: Long) = {
    val rnd = new scala.util.Random(from + 5)
    def pick(): String = s"w${math.min((math.abs(rnd.nextGaussian()) * 8).toInt, 39)}"
    Vector.tabulate(400)(i => (from + i, Vector.fill(8 + rnd.nextInt(30))(pick()).mkString(" ")))
      .toDF("doc_id", "text")
  }

  private def bool(cs: (Occur, String)*): Query =
    BooleanQuery(cs.map { case (o, t) => (o, TermQuery("text", t): Query) })

  private val shapes: Seq[Query] = Seq(
    TermQuery("text", "w0"),
    TermQuery("text", "w17"),
    TermQuery("text", "nosuchterm"),
    bool((Occur.Should, "w0"), (Occur.Should, "w5"), (Occur.Should, "w21")),
    bool((Occur.Must, "w1"), (Occur.Should, "w3"), (Occur.MustNot, "w2")),
    PhraseQuery("text", Seq((0, "w0"), (1, "w1")), 1))

  private def build(name: String, conf: IndexBuilder.BuildConf): String = {
    val dir = Files.createTempDirectory(s"graft-fresh-$name").toString
    IndexBuilder.build(spark, corpus(0), schema, dir, name, conf)
    dir
  }

  /** Each live segment's `(bucket_lo, bucket_width)` as its fieldstats rows hold it. */
  private def layouts(dir: String): Map[Int, (Int, Int)] = {
    val live = Snapshots.latest(spark, dir).get.segments
    spark.read.parquet(s"$dir/fieldstats")
      .filter(col("segment_id").isin(live.map(Integer.valueOf): _*))
      .select("segment_id", "bucket_lo", "bucket_width").distinct().collect()
      .map(r => r.getInt(0) -> (r.getInt(1), r.getInt(2))).toMap
  }

  /** Every live posting row lies in the file its segment's layout names for
    * its term; returns the live segments' layouts.
    */
  private def assertPlaced(dir: String): Map[Int, (Int, Int)] = {
    val layout = layouts(dir)
    val rows = spark.read.parquet(s"$dir/postings")
      .filter(col("segment_id").isin(layout.keys.toSeq.map(Integer.valueOf): _*))
      .select(col("field"), col("term"), col("segment_id"), input_file_name()).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lo, width) = layout(r.getInt(2))
      val file = r.getString(3).split('/').last
      assert(IndexReader.writerPartition(file).contains(lo + IndexBuilder.termBucket(r.getString(0), r.getString(1), width)),
        s"(${r.getString(0)}, ${r.getString(1)}) of segment ${r.getInt(2)} in $file")
    }
    layout
  }

  private def assertFreshSame(dir: String): Unit =
    WandSpec.withPrimed(new Searcher(new IndexReader(spark, dir), schema)) { (fresh, primed) =>
      shapes.foreach(WandSpec.assertPrimedSame(fresh, primed, _))
    }

  test("posting layout: a build and its merge place each term in the file its bucket names; fresh equals primed") {
    val parts = 8
    val dir = build("layout", IndexBuilder.BuildConf(numSegments = 2, buildPartitions = parts))
    // two segments over 8 partitions: four buckets each
    assert(assertPlaced(dir) == Map(0 -> (0, 4), 1 -> (4, 4)))
    assertFreshSame(dir)

    // a tiny segment leaves most of its buckets without a file; a term that
    // hashes to one of them is not in the segment, and no file is opened for it
    val tiny = Maintenance.addDocuments(spark, dir, schema, Seq((10000L, "w0 zeta")).toDF("doc_id", "text"),
      "tiny", conf = IndexBuilder.BuildConf(numSegments = 1, buildPartitions = parts)).head
    assert(assertPlaced(dir)(tiny) == (0, parts))
    val reader = new IndexReader(spark, dir)
    val tinyFiles = reader.postings.filter(col("segment_id") === tiny).select(input_file_name()).distinct().count()
    assert(tinyFiles >= 1 && tinyFiles <= 2, s"$tinyFiles files for two terms")
    val files = reader.postingFiles(Seq(("text", "w0"))).filter(_._1 == tiny).map(_._2.getPath.getName)
    val written = files.flatMap(IndexReader.writerPartition).toSet
    assert(written.size == 1)
    val absent = Iterator.from(0).map(i => s"absent$i")
      .find(t => !written(IndexBuilder.termBucket("text", t, parts)) &&
        IndexBuilder.termBucket("text", t, parts) != IndexBuilder.termBucket("text", "zeta", parts)).get
    assert(!reader.postingFiles(Seq(("text", absent))).exists(_._1 == tiny))
    assert(reader.termDfs(Seq(("text", absent), ("text", "zeta"))) == Map(("text", "zeta") -> 1L))
    assertFreshSame(dir)

    // their merge: one segment over all 8 partitions
    val segs = Snapshots.latest(spark, dir).get.segments
    val merged = Maintenance.mergeSegments(spark, dir, schema, segs, "layout-m",
      IndexBuilder.BuildConf(buildPartitions = parts))
    assert(assertPlaced(dir) == Map(merged -> (0, parts)))
    assertFreshSame(dir)
  }

  test("a segment whose fieldstats lack the bucket layout is read whole, and answers equal the primed reader's") {
    val dir = build("nolayout", IndexBuilder.BuildConf(numSegments = 2, buildPartitions = 8))
    // rewrite segment 0's fieldstats partition without the layout columns,
    // as writers before the layout wrote it
    val part = s"$dir/fieldstats/segment_id=0"
    val old = spark.read.parquet(part).drop("bucket_lo", "bucket_width")
    val rows = old.collect().toSeq
    assert(rows.nonEmpty)
    val fs = new org.apache.hadoop.fs.Path(part).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(part), true)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), old.schema).write.parquet(part)
    assert(!spark.read.parquet(part).columns.contains("bucket_lo"))

    val reader = new IndexReader(spark, dir)
    val bySeg = reader.postingFiles(Seq(("text", "w0"))).groupBy(_._1).map { case (s, fs) => s -> fs.size }
    val onDisk = reader.postings.select(input_file_name(), col("segment_id")).distinct()
      .groupBy("segment_id").count().collect().map(r => r.getInt(0) -> r.getLong(1).toInt).toMap
    assert(onDisk(0) == 4 && bySeg == Map(0 -> 4, 1 -> 1), s"files per segment $bySeg of $onDisk")
    assertFreshSame(dir)
  }

  test("a one-term fresh lookup opens exactly one posting file per live segment") {
    val dir = build("onefile", IndexBuilder.BuildConf(numSegments = 3, buildPartitions = 12))
    val reader = new IndexReader(spark, dir)
    val live = reader.snapshot.get.segments.toSet
    val onDisk = reader.postings.select(input_file_name()).distinct().count()
    assert(onDisk == 12, s"$onDisk posting files")
    for (t <- Seq("w0", "w3", "w9")) {
      val files = reader.postingFiles(Seq(("text", t)))
      assert(files.map(_._1).sorted == live.toSeq.sorted, s"$t: ${files.map(f => (f._1, f._2.getPath.getName))}")
      // the blocks read from them are the term's live blocks
      val want = reader.postings.filter(col("term") === t).select("segment_id", "block_id").collect()
        .map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
      assert(reader.postingBlocks(Seq(("text", t)), withPositions = false)
        .map(r => (r.getInt(2), r.getInt(3))).sorted.toSeq == want)
    }
  }
}
