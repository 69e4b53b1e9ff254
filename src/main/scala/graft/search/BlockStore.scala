package graft.search

import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, Partitioner, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.UnsafeRowSerializer
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** One live posting block as the [[BlockStore]] holds it: its segment and
  * block, `doc_count`, the block-max bounds and the packed blobs
  * (`positions` is null for a field that records none).
  */
final case class StoredBlock(
    segment: Int, block: Int, docCount: Int, maxTf: Int, minNorm: Int,
    docIds: Array[Byte], tfs: Array[Byte], norms: Array[Byte], positions: Array[Byte]) {

  /** The block as an [[IndexReader.blockCols]] row of term `key`. */
  def row(key: (String, String), withPositions: Boolean): Row =
    if (withPositions) Row(key._1, key._2, segment, block, docCount, maxTf, minNorm, docIds, tfs, norms, positions)
    else Row(key._1, key._2, segment, block, docCount, maxTf, minNorm, docIds, tfs, norms)
}

/** A primed reader's term-addressed posting blocks (the Spark analog of
  * summa's term-dictionary seek into its hotcache): a persisted RDD
  * hash-partitioned by `(field, term)` whose every partition holds one map
  * from `(field, term)` to that term's live blocks. The driver computes a
  * term's partition, so a lookup is one `runJob` over just its terms'
  * partitions, with no query plan and no scan of other terms' blocks.
  */
final class BlockStore private (val rdd: RDD[BlockStore.Terms]) {
  private val partitioner = new HashPartitioner(rdd.getNumPartitions)

  /** `f` of each present term of `pairs` and its blocks: one job of one task
    * per partition the terms hash to (none for no terms).
    */
  private def lookup[U: ClassTag](pairs: Seq[(String, String)])(
      f: ((String, String), Array[StoredBlock]) => U): Seq[U] = {
    val byPart = pairs.distinct.groupBy(partitioner.getPartition)
    if (byPart.isEmpty) return Nil
    rdd.sparkContext.runJob(rdd, new BlockStore.Lookup(byPart, f), byPart.keys.toSeq.sorted).toSeq.flatten
  }

  /** The live blocks of `pairs` as [[IndexReader.blockCols]] rows, projected
    * inside the task.
    */
  def blocks(pairs: Seq[(String, String)], withPositions: Boolean): Array[Row] =
    lookup(pairs)((k, bs) => bs.map(_.row(k, withPositions))).flatten.toArray

  /** Σ `doc_count` over each present term's blocks: its df. */
  def dfs(pairs: Seq[(String, String)]): Map[(String, String), Long] =
    lookup(pairs)((k, bs) => k -> bs.iterator.map(_.docCount.toLong).sum).toMap

  def release(): Unit = { rdd.unpersist(blocking = false); () }
}

object BlockStore {
  /** One store partition: each of its terms' blocks. A Java hash map, whose
    * size the block manager estimates from a sample of its table; it walks
    * every node of a Scala map, which made the build about 70 % slower.
    */
  type Terms = java.util.HashMap[(String, String), Array[StoredBlock]]

  /** The task of a lookup: `f` of each wanted term present in its
    * partition's map. A named function class, not a lambda, so that
    * `SparkContext.clean` returns at once instead of reading a closure's
    * class file with ASM on every lookup.
    */
  private final class Lookup[U: ClassTag](
      byPart: Map[Int, Seq[(String, String)]],
      f: ((String, String), Array[StoredBlock]) => U)
      extends ((TaskContext, Iterator[Terms]) => Array[U]) with Serializable {
    def apply(ctx: TaskContext, maps: Iterator[Terms]): Array[U] = {
      val keys = byPart(ctx.partitionId())
      maps.flatMap(m => keys.flatMap(k => Option(m.get(k)).map(f(k, _)))).toArray
    }
  }

  /** Routes a `(partition id, row)` record to its partition. */
  private final class PartitionIdPassthrough(override val numPartitions: Int) extends Partitioner {
    override def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** Store the blocks of `postings` (a reader's live posting table) in
    * `numPartitions` partitions by `HashPartitioner` on `(field, term)`, and
    * materialize them at `level`: one job, whose scan also fills `postings`'
    * columnar cache when it is persisted. The blocks cross the shuffle as
    * Tungsten rows, as a SQL exchange ships them: Java-serialized block
    * objects made the build about 65 % slower.
    */
  def build(postings: DataFrame, numPartitions: Int, level: StorageLevel): BlockStore = {
    val blocks = postings.select(IndexReader.blockCols(withPositions = true).map(col): _*)
    val schema = blocks.schema
    val byTerm = new HashPartitioner(numPartitions)
    val keyed = blocks.queryExecution.toRdd.mapPartitions { rows =>
      val unsafe = UnsafeProjection.create(schema)
      rows.map(r => byTerm.getPartition((r.getString(0), r.getString(1))) -> (unsafe(r).copy(): InternalRow))
    }
    val rdd = new ShuffledRDD[Int, InternalRow, InternalRow](keyed, new PartitionIdPassthrough(numPartitions))
      .setSerializer(new UnsafeRowSerializer(schema.size))
      .mapPartitions { rows =>
        val terms = scala.collection.mutable.HashMap[(String, String), scala.collection.mutable.ArrayBuffer[StoredBlock]]()
        rows.foreach { case (_, r) =>
          terms.getOrElseUpdate((r.getString(0), r.getString(1)), scala.collection.mutable.ArrayBuffer()) +=
            StoredBlock(r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6),
              r.getBinary(7), r.getBinary(8), r.getBinary(9), if (r.isNullAt(10)) null else r.getBinary(10))
        }
        val m = new Terms(terms.size * 2)
        terms.foreach { case (k, bs) => m.put(k, bs.toArray) }
        Iterator(m)
      }
      .setName("graft block store")
      .persist(level)
    rdd.count()
    new BlockStore(rdd)
  }
}
