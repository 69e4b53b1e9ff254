package graft.search

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.index.{IndexBuilder, Snapshots, TinyParquet}

/** Read-side handle on a committed index (reference analog: `IndexHolder`
  * over a tantivy `Searcher`,
  * `/root/reference/summa-core/src/components/index_holder.rs:378-402`).
  *
  * The reader is pinned to the latest snapshot at construction: all scans
  * filter `segment_id` to the snapshot's live set (partition-pruned), so
  * concurrent merges/commits don't affect an open reader — the Spark
  * equivalent of tantivy's reload-on-commit searcher generation.
  *
  * Until a reader is primed, its fieldstats, tombstones and term lookups
  * read the live segments' files on the driver and start no Spark job; a
  * lookup opens only the posting files that can hold its terms, as a
  * tantivy term dictionary seeks straight to a term's postings.
  *
  * Global statistics (N, avgdl, per-term df) are aggregated over live
  * segments and bound once per query at plan time — the Spark equivalent of
  * tantivy building a `Weight` with searcher-level stats
  * (`index_holder.rs:385-392`).
  */
final case class FieldStat(nDocs: Long, totalTokens: Long) {
  def avgdl: Double = if (nDocs == 0) 0.0 else totalTokens.toDouble / nDocs
}

class IndexReader(
    val spark: SparkSession,
    val indexDir: String,
    /** pin to a specific snapshot version (time travel); None = latest */
    val atVersion: Option[Int] = None
) extends Serializable {

  /** Live segments per the pinned snapshot (None = pre-snapshot index: all). */
  lazy val snapshot: Option[graft.index.Snapshot] = atVersion match {
    case Some(v) => Some(Snapshots.at(spark, indexDir, v))
    case None    => Snapshots.latest(spark, indexDir)
  }

  private def liveFilter(df: DataFrame): DataFrame = snapshot match {
    case Some(s) => df.filter(col("segment_id").isin(s.segments.map(Integer.valueOf): _*))
    case None    => df
  }

  private def conf = spark.sparkContext.hadoopConfiguration

  private def isData(f: FileStatus): Boolean = {
    val n = f.getPath.getName
    f.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
  }

  /** The schema Spark's non-merging parquet inference would give the
    * table `name` — `ParquetFileFormat.readSchemaFromFooter` of one data
    * file, plus the `segment_id` partition column of a partitioned table —
    * read on the driver from the footer of one file, a live segment's where
    * there is one, so opening a table starts no schema-inference job. None
    * when the table has no data file.
    */
  private def tableSchema(name: String): Option[StructType] = {
    val root = new Path(s"$indexDir/$name")
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return None
    val (segDirs, top) = fs.listStatus(root).toSeq
      .partition(f => f.isDirectory && f.getPath.getName.startsWith("segment_id="))
    val live = snapshot.fold(Set.empty[String])(_.segments.map(s => s"segment_id=$s").toSet)
    val file = top.find(isData).map(_ -> false).orElse(
      segDirs.sortBy(d => !live(d.getPath.getName)).iterator
        .flatMap(d => fs.listStatus(d.getPath).find(isData)).nextOption().map(_ -> true))
    file.map { case (f, partitioned) =>
      val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS))
      val data = ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      if (partitioned) data.add(StructField("segment_id", IntegerType)) else data
    }
  }

  /** Table `name` read with its [[tableSchema]] (a table with no data file
    * is left to Spark's inference).
    */
  private def table(name: String): DataFrame =
    tableSchema(name).fold(spark.read)(spark.read.schema).parquet(s"$indexDir/$name")

  // lazy vals: each table's file index (listing) and schema are built once
  // per reader, not on every query; the schema costs a footer read on the
  // driver, not a Spark job
  lazy val postings: DataFrame = liveFilter(table("postings"))
  lazy val docs: DataFrame = liveFilter(table("docs"))
  /** Per-segment term statistics `(field, term, df, total_tf, segment_id)`,
    * a view over the live posting blocks: `df` = Σ `doc_count` and
    * `total_tf` = Σ `sum_tf` over each term's blocks in a segment (summa's
    * term dictionary keeps doc_freq next to the postings the same way).
    */
  lazy val termStatsDf: DataFrame = postings
    .groupBy("segment_id", "field", "term")
    .agg(sum("doc_count").cast("long").as("df"), sum("sum_tf").as("total_tf"))
    .select("field", "term", "df", "total_tf", "segment_id")
  lazy val metrics: DataFrame = table("metrics")

  /** Tombstones `(segment_id, doc_id)` as written, if any deletes were
    * issued since the segments were built.
    */
  lazy val deletes: Option[DataFrame] =
    // tombstones are hive-partitioned by segment_id; after a merge clears
    // every partition the root may hold only a _SUCCESS marker — no data
    // file, tombstone-free
    tableSchema("deletes").map(s =>
      spark.read.schema(s).parquet(s"$indexDir/deletes").select("segment_id", "doc_id"))

  /** The data files of table `name` with their live segment (every
    * segment of a pre-snapshot index), in segment order, listed on the
    * driver: one listing per segment directory, none for a segment without
    * one.
    */
  private def segmentFiles(name: String): Seq[(Int, FileStatus)] = {
    val root = new Path(s"$indexDir/$name")
    val fs = root.getFileSystem(conf)
    val dirs = snapshot match {
      case Some(s) => s.segments.map(seg => seg -> new Path(root, s"segment_id=$seg"))
      case None =>
        if (!fs.exists(root)) Nil
        else fs.listStatus(root).toSeq.map(_.getPath).collect {
          case d if d.getName.startsWith("segment_id=") => d.getName.stripPrefix("segment_id=").toInt -> d
        }
    }
    dirs.sortBy(_._1).flatMap { case (seg, d) =>
      try fs.listStatus(d).toSeq.filter(isData).map(seg -> _)
      catch { case _: java.io.FileNotFoundException => Nil }
    }
  }

  /** `read` of each of `xs`, concurrently on the driver when there are
    * several (one file read each).
    */
  private def readEach[A, B](xs: Seq[A])(read: A => B): Seq[B] =
    if (xs.size <= 1) xs.map(read)
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      xs.map(x => Future(read(x))).map(Await.result(_, Duration.Inf))
    }

  /** Tombstoned doc ids per live segment (empty when there are none), read
    * once per reader on the driver from the live segments' tombstone files
    * — the alive bitsets the block route's top-k walk checks its hits
    * against.
    */
  lazy val tombstones: Map[Int, java.util.BitSet] =
    if (deletes.isEmpty) Map.empty
    else readEach(segmentFiles("deletes")) { case (seg, f) =>
      val bits = new java.util.BitSet
      TinyParquet.read(conf, f, Seq("doc_id")).foreach(v => bits.set(v(0).asInstanceOf[Int]))
      seg -> bits
    }.groupMapReduce(_._1)(_._2) { (a, b) => a.or(b); a }.filter(!_._2.isEmpty)

  /** Anti-join tombstones out of a (segment_id, doc_id, …) doc-set (a
    * repeated tombstone changes nothing, so none are deduplicated).
    */
  def applyDeletes(hits: DataFrame): DataFrame = deletes match {
    case Some(d) => hits.join(broadcast(d), Seq("segment_id", "doc_id"), "left_anti")
    case None    => hits
  }

  /** The live segments' fieldstats rows, each `(segment_id, Array(field,
    * n_docs, total_tokens, block_bits, bucket_lo, bucket_width))`: at most
    * #fields × #segments rows, read on the driver. A segment written before
    * fieldstats held its bucket layout reads null there.
    */
  @transient private lazy val fieldStatRows: Seq[(Int, Array[Any])] =
    readEach(segmentFiles("fieldstats")) { case (seg, f) =>
      TinyParquet.read(conf, f, Seq("field", "n_docs", "total_tokens", "block_bits", "bucket_lo", "bucket_width"))
        .map(seg -> _)
    }.flatten

  lazy val fieldStats: Map[String, FieldStat] =
    fieldStatRows.groupMapReduce(_._2(0).asInstanceOf[String]) { case (_, r) =>
      FieldStat(r(1).asInstanceOf[Long], Option(r(2)).fold(0L)(_.asInstanceOf[Long]))
    }((a, b) => FieldStat(a.nDocs + b.nDocs, a.totalTokens + b.totalTokens))

  /** Each live segment's posting block size as a shift: `block_id = doc_id
    * >>> blockBits(segment_id)`, as its writer stored it.
    */
  lazy val blockBits: Map[Int, Int] = fieldStatRows.map { case (seg, r) => seg -> r(3).asInstanceOf[Int] }.toMap

  /** Each live segment's posting-file layout `(lo, width)` as its writer
    * recorded it (`IndexBuilder.bucketLayout`); a segment written before
    * fieldstats held one has no entry.
    */
  private lazy val bucketLayout: Map[Int, (Int, Int)] = fieldStatRows.collect {
    case (seg, r) if r(4) != null && r(5) != null => seg -> (r(4).asInstanceOf[Int], r(5).asInstanceOf[Int])
  }.toMap

  /** `field = f AND term IN (…)`, OR-ed over the fields of `pairs`. */
  private[search] def termsFilter(pairs: Seq[(String, String)]): Column =
    pairs.groupBy(_._1)
      .map { case (f, ps) => col("field") === f && col("term").isin(ps.map(_._2).distinct: _*) }
      .reduce(_ || _)

  /** The term-addressed block store of a primed reader (`Reflection.prime`
    * sets it, `unprime` releases it); None on a fresh reader.
    */
  @transient @volatile private[search] var store: Option[BlockStore] = None

  /** The live posting files with their segment, listed once per reader. */
  @transient private lazy val postingFileIndex: Seq[(Int, FileStatus)] = segmentFiles("postings")

  /** The live posting files that can hold `pairs`, each with the pairs it
    * can hold, in segment order: in a segment with a recorded layout
    * `(lo, width)` the file of each pair's bucket, `part-<lo +
    * IndexBuilder.termBucket(field, term, width)>-…` (none if the bucket
    * wrote no file: the term is not in the segment); every file of a
    * segment with no recorded layout.
    */
  private[search] def postingFiles(pairs: Seq[(String, String)]): Seq[(Int, FileStatus, Seq[(String, String)])] = {
    // each segment's pairs by the reduce partition that wrote their bucket
    val byPart = bucketLayout.map { case (seg, (lo, width)) =>
      seg -> pairs.groupBy { case (f, t) => lo + IndexBuilder.termBucket(f, t, width) }
    }
    postingFileIndex.flatMap { case (seg, f) =>
      byPart.get(seg) match {
        case None        => Some((seg, f, pairs))
        case Some(parts) => IndexReader.writerPartition(f.getPath.getName).flatMap(parts.get).map(ps => (seg, f, ps))
      }
    }
  }

  /** The live posting rows of `pairs`, columns `field`, `term`,
    * `segment_id` and then `more`, read on the driver from just the files
    * that can hold them ([[postingFiles]]). Each read pushes `field IN (…)
    * AND term IN (…)` into the parquet reader, which decodes no other
    * column of a row it drops, and only exact `(field, term)` matches are
    * kept.
    */
  private def readPostings(pairs: Seq[(String, String)], more: Seq[String]): Seq[Row] =
    readEach(postingFiles(pairs)) { case (seg, file, ps) =>
      val wanted = ps.toSet
      TinyParquet.read(conf, file, Seq("field", "term") ++ more,
        Map("field" -> ps.map(_._1).toSet, "term" -> ps.map(_._2).toSet)).collect {
        case v if wanted((v(0).asInstanceOf[String], v(1).asInstanceOf[String])) =>
          Row.fromSeq(v(0) +: v(1) +: seg +: v.drop(2).toSeq)
      }
    }.flatten

  /** The live posting blocks of `pairs` as [[IndexReader.blockCols]] rows,
    * in no particular order: on a primed reader a lookup of just the store
    * partitions of `pairs` (in-process on the partitions the driver holds,
    * one job over the rest), else a driver-side read of just the posting
    * files that can hold them ([[postingFiles]]), with no Spark job.
    */
  private[search] def postingBlocks(pairs: Seq[(String, String)], withPositions: Boolean): Array[Row] =
    if (pairs.isEmpty) Array.empty
    else store match {
      case Some(s) => s.blocks(pairs, withPositions)
      case None    => readPostings(pairs, IndexReader.blockCols(withPositions).drop(3)).toArray
    }

  /** Batch df lookup for all terms of a query, summed over live segments;
    * an absent term has no entry. Deleted docs intentionally still count
    * toward df until merged out (tantivy semantics). It is Σ `doc_count`
    * over each term's live posting blocks: on a primed reader over its
    * stored blocks (in-process on the partitions the driver holds, one job
    * over the rest); on a fresh reader over the blocks' `doc_count` column,
    * read on the driver from just the posting files that can hold the
    * terms ([[postingFiles]]), with no Spark job. Either way idf becomes a
    * plan literal, like tantivy's per-query Weight.
    */
  def termDfs(pairs: Seq[(String, String)]): Map[(String, String), Long] =
    if (pairs.isEmpty) Map.empty
    else store match {
      case Some(s) => s.dfs(pairs)
      case None =>
        readPostings(pairs, Seq("doc_count"))
          .groupMapReduce(r => (r.getString(0), r.getString(1)))(_.getInt(3).toLong)(_ + _)
    }
}

object IndexReader {
  /** The posting-block columns a block lookup returns, in this order;
    * `positions` last, and only when asked for.
    */
  def blockCols(withPositions: Boolean): Seq[String] =
    Seq("field", "term", "segment_id", "block_id", "doc_count", "block_max_tf", "block_min_norm",
      "doc_ids", "tfs", "norms") ++ (if (withPositions) Seq("positions") else Nil)

  /** The reduce partition whose task wrote the data file named `name`:
    * Spark names a task's output files `part-<partition id>-…`.
    */
  private[search] def writerPartition(name: String): Option[Int] =
    if (!name.startsWith("part-")) None
    else name.drop(5).takeWhile(_ != '-').toIntOption
}
