package graft.index

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Order-independent content digest of a table: SHA-256 over the sorted
  * per-row SHA-256 of `to_json(struct(columns sorted by name))`, binaries
  * as base64. Two tables digest equal iff they hold the same multiset of
  * rows, whatever their file layout, partitioning or row order.
  *
  * As a main it digests the index tables of one or more index directories,
  * one line per (table, directory): `table, digest, parquet file count,
  * directory`. Two directories built by two versions of the code can be
  * compared table by table, and a layout change shows as equal digests with
  * different file counts:
  * {{{
  * java ... -cp target/scala-2.13/classes:target/scala-2.13/test-classes:$SPARK_HOME/jars/'*' \
  *   graft.index.IndexDigest /tmp/a/index /tmp/b/index
  * }}}
  * `metrics` is digested without `build_id` and `created_at`, which differ
  * between any two runs.
  */
object IndexDigest {

  /** Each row of `df` as one JSON string column `json`: the columns sorted
    * by name, the `drop` columns left out, binaries rendered by `binary`.
    */
  def rowJson(df: DataFrame, drop: Seq[String] = Nil, binary: Column => Column = base64): DataFrame = {
    val cols = df.columns.filterNot(drop.contains).sorted
    val kinds = df.schema.fields.map(f => f.name -> f.dataType).toMap
    df.select(to_json(struct(cols.toIndexedSeq.map(c =>
      (if (kinds(c) == BinaryType) binary(col(c)) else col(c)).as(c)): _*)).as("json"))
  }

  /** Digest of `df` with the `drop` columns left out. */
  def apply(df: DataFrame, drop: Seq[String] = Nil): String = {
    val rowHashes = rowJson(df, drop).select(sha2(col("json"), 256))
      .collect().map(_.getString(0)).sorted
    val md = MessageDigest.getInstance("SHA-256")
    rowHashes.foreach(h => md.update(h.getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  val tables: Seq[String] = Seq("docs", "postings", "fieldstats", "metrics")

  /** Digest of one index table, read straight from its directory (every
    * segment partition on disk, retired ones included).
    */
  def table(spark: SparkSession, indexDir: String, name: String): String =
    apply(spark.read.parquet(s"$indexDir/$name"),
      if (name == "metrics") Seq("build_id", "created_at") else Nil)

  /** The number of parquet files under `indexDir/name` (a table, or one
    * of its segment partitions), every partition on disk included.
    */
  def files(spark: SparkSession, indexDir: String, name: String): Int = {
    val root = new org.apache.hadoop.fs.Path(s"$indexDir/$name")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(root, true)
    var n = 0
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: IndexDigest <indexDir> [<indexDir> ...]")
    val spark = SparkSession.builder().master(sys.props.getOrElse("spark.master", "local[4]"))
      .appName("index-digest").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (t <- tables; d <- args) println(s"$t\t${table(spark, d, t)}\t${files(spark, d, t)}\t$d")
    spark.stop()
  }
}
