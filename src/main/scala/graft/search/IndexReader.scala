package graft.search

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.index.{IndexBuilder, Snapshots}

/** Read-side handle on a committed index (reference analog: `IndexHolder`
  * over a tantivy `Searcher`,
  * `/root/reference/summa-core/src/components/index_holder.rs:378-402`).
  *
  * The reader is pinned to the latest snapshot at construction: all scans
  * filter `segment_id` to the snapshot's live set (partition-pruned), so
  * concurrent merges/commits don't affect an open reader — the Spark
  * equivalent of tantivy's reload-on-commit searcher generation.
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

  /** The schema Spark's non-merging parquet inference would give the
    * table `name` — `ParquetFileFormat.readSchemaFromFooter` of one data
    * file, plus the `segment_id` partition column of a partitioned table —
    * read on the driver from the footer of one file, a live segment's where
    * there is one, so opening a table starts no schema-inference job. None
    * when the table has no data file.
    */
  private def tableSchema(name: String): Option[StructType] = {
    val root = new Path(s"$indexDir/$name")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    def isData(f: FileStatus): Boolean = {
      val n = f.getPath.getName
      f.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }
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

  /** Tombstoned doc ids per segment (empty when there are none), collected
    * once per reader in one job with no shuffle — the alive bitsets the
    * block route's top-k walk checks its hits against.
    */
  lazy val tombstones: Map[Int, java.util.BitSet] =
    deletes.fold(Map.empty[Int, java.util.BitSet]) { d =>
      val bits = scala.collection.mutable.HashMap[Int, java.util.BitSet]()
      d.collect().foreach(r => bits.getOrElseUpdate(r.getInt(0), new java.util.BitSet).set(r.getInt(1)))
      bits.toMap
    }

  /** Anti-join tombstones out of a (segment_id, doc_id, …) doc-set (a
    * repeated tombstone changes nothing, so none are deduplicated).
    */
  def applyDeletes(hits: DataFrame): DataFrame = deletes match {
    case Some(d) => hits.join(broadcast(d), Seq("segment_id", "doc_id"), "left_anti")
    case None    => hits
  }

  /** The live segments' fieldstats rows `(segment_id, field, n_docs,
    * total_tokens, block_bits)`: read with the writer's schema (no inference
    * job), collected in one job with no Exchange (at most #fields ×
    * #segments rows) and reduced on the driver.
    */
  private lazy val fieldStatRows =
    liveFilter(spark.read.schema(IndexBuilder.fieldStatsSchema).parquet(s"$indexDir/fieldstats"))
      .select("segment_id", "field", "n_docs", "total_tokens", "block_bits")
      .collect()

  lazy val fieldStats: Map[String, FieldStat] =
    fieldStatRows.groupMapReduce(_.getString(1))(r =>
      FieldStat(r.getLong(2), if (r.isNullAt(3)) 0L else r.getLong(3)))((a, b) =>
      FieldStat(a.nDocs + b.nDocs, a.totalTokens + b.totalTokens))

  /** Each live segment's posting block size as a shift: `block_id = doc_id
    * >>> blockBits(segment_id)`, as its writer stored it.
    */
  lazy val blockBits: Map[Int, Int] = fieldStatRows.map(r => r.getInt(0) -> r.getInt(4)).toMap

  /** `field = f AND term IN (…)`, OR-ed over the fields of `pairs`. */
  private[search] def termsFilter(pairs: Seq[(String, String)]): Column =
    pairs.groupBy(_._1)
      .map { case (f, ps) => col("field") === f && col("term").isin(ps.map(_._2).distinct: _*) }
      .reduce(_ || _)

  /** The term-addressed block store of a primed reader (`Reflection.prime`
    * sets it, `unprime` releases it); None on a fresh reader.
    */
  @transient @volatile private[search] var store: Option[BlockStore] = None

  /** The live posting blocks of `pairs` as [[IndexReader.blockCols]] rows,
    * in no particular order: on a primed reader a lookup of just the store
    * partitions of `pairs` (in-process on the partitions the driver holds,
    * one job over the rest), else a filter of the posting table.
    */
  private[search] def postingBlocks(pairs: Seq[(String, String)], withPositions: Boolean): Array[Row] =
    if (pairs.isEmpty) Array.empty
    else store match {
      case Some(s) => s.blocks(pairs, withPositions)
      case None =>
        postings.filter(termsFilter(pairs)).select(IndexReader.blockCols(withPositions).map(col): _*).collect()
    }

  /** Batch df lookup for all terms of a query, summed over live segments;
    * an absent term has no entry. Deleted docs intentionally still count
    * toward df until merged out (tantivy semantics). It is Σ `doc_count`
    * over each term's live posting blocks: on a primed reader over its
    * stored blocks (in-process on the partitions the driver holds, one job
    * over the rest); on a fresh reader over the blocks' `doc_count`
    * column, read by a pushed-down scan of the term-sorted posting table
    * whose matching rows are collected and summed on the driver, one job
    * with no Exchange. Either way idf becomes a plan literal, like
    * tantivy's per-query Weight.
    */
  def termDfs(pairs: Seq[(String, String)]): Map[(String, String), Long] =
    if (pairs.isEmpty) Map.empty
    else store match {
      case Some(s) => s.dfs(pairs)
      case None =>
        postings
          .filter(termsFilter(pairs))
          .select("field", "term", "doc_count")
          .collect()
          .groupMapReduce(r => (r.getString(0), r.getString(1)))(_.getInt(2).toLong)(_ + _)
    }
}

object IndexReader {
  /** The posting-block columns a block lookup returns, in this order;
    * `positions` last, and only when asked for.
    */
  def blockCols(withPositions: Boolean): Seq[String] =
    Seq("field", "term", "segment_id", "block_id", "doc_count", "block_max_tf", "block_min_norm",
      "doc_ids", "tfs", "norms") ++ (if (withPositions) Seq("positions") else Nil)
}
