package graft.search

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.Snapshots

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

  // lazy vals: the file index (listing + schema) is built once per reader,
  // not re-listed on every query
  lazy val postings: DataFrame = liveFilter(spark.read.parquet(s"$indexDir/postings"))
  lazy val docs: DataFrame = liveFilter(spark.read.parquet(s"$indexDir/docs"))
  lazy val termStatsDf: DataFrame = liveFilter(spark.read.parquet(s"$indexDir/termstats"))
  lazy val metrics: DataFrame = spark.read.parquet(s"$indexDir/metrics")

  /** Tombstones, if any deletes were issued since the segments were built. */
  lazy val deletes: Option[DataFrame] = {
    val p = new Path(s"$indexDir/deletes")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // tombstones are hive-partitioned by segment_id; after a merge clears
    // every partition the root may hold only a _SUCCESS marker — treat that
    // as tombstone-free
    if (fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith("segment_id=")))
      Some(spark.read.parquet(s"$indexDir/deletes")
        .select(col("segment_id").cast("int").as("segment_id"), col("doc_id"))
        .distinct())
    else None
  }

  /** Anti-join tombstones out of a (segment_id, doc_id, …) doc-set. */
  def applyDeletes(hits: DataFrame): DataFrame = deletes match {
    case Some(d) => hits.join(broadcast(d), Seq("segment_id", "doc_id"), "left_anti")
    case None    => hits
  }

  lazy val fieldStats: Map[String, FieldStat] =
    liveFilter(spark.read.parquet(s"$indexDir/fieldstats"))
      .groupBy("field")
      .agg(sum("n_docs").as("n"), sum("total_tokens").as("tt"))
      .collect()
      .map(r => r.getString(0) -> FieldStat(r.getLong(1), r.getLong(2)))
      .toMap

  /** Batch df lookup for all terms of a query — one pushed-down scan of the
    * term-sorted per-segment stats; the matching rows (at most #segments ×
    * #terms) are collected and summed over live segments on the driver, so
    * the probe is one job with no Exchange (idf becomes a plan literal, like
    * tantivy's per-query Weight). Deleted docs intentionally still count
    * toward df until merged out (tantivy semantics).
    */
  def termDfs(pairs: Seq[(String, String)]): Map[(String, String), Long] = {
    if (pairs.isEmpty) return Map.empty
    val byField = pairs.groupBy(_._1)
    val cond = byField
      .map { case (f, ps) => col("field") === f && col("term").isin(ps.map(_._2): _*) }
      .reduce(_ || _)
    termStatsDf
      .filter(cond)
      .select("field", "term", "df")
      .collect()
      .groupMapReduce(r => (r.getString(0), r.getString(1)))(_.getLong(2))(_ + _)
  }
}
