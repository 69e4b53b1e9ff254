package graft.search

import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, Partitioner, SparkEnv, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.UnsafeRowSerializer
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.{RDDBlockId, StorageLevel}

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
  * term's partition, so a lookup touches just its terms' partitions, with no
  * query plan and no scan of other terms' blocks: in-process on the
  * partitions the driver holds (all of them on a local master), one job
  * over the rest.
  */
final class BlockStore private (val rdd: RDD[BlockStore.Terms]) {
  private val partitioner = new HashPartitioner(rdd.getNumPartitions)

  /** `f` of each present term of `pairs` and its blocks, in partition order.
    * A partition the terms hash to that the driver's block manager holds is
    * read in-process; one job of one task per partition reads the rest (on
    * the executors that hold them, or recomputed from lineage when lost).
    * A remote block is never fetched: that would copy a whole partition to
    * the driver.
    */
  private[search] def lookup[U: ClassTag](pairs: Seq[(String, String)])(
      f: ((String, String), Array[StoredBlock]) => U): Seq[U] = {
    val byPart = pairs.distinct.groupBy(partitioner.getPartition)
    val local = byPart.keys.toSeq.sorted.map(p =>
      p -> BlockStore.readLocal(rdd.id, p)(BlockStore.select(byPart(p), _, f)))
    val rest = local.collect { case (p, None) => p }
    val fetched: Iterator[Array[U]] =
      if (rest.isEmpty) Iterator.empty
      else rdd.sparkContext.runJob(rdd, new BlockStore.Lookup(byPart, f), rest).iterator
    local.flatMap { case (_, held) => held.getOrElse(fetched.next()).iterator }
  }

  /** The live blocks of `pairs` as [[IndexReader.blockCols]] rows, projected
    * where their partition is read.
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

  /** `f` of each of `keys` present in a partition's maps: the lookup body
    * of both the in-process read and the job's tasks.
    */
  private def select[U: ClassTag](
      keys: Seq[(String, String)], maps: Iterator[Terms],
      f: ((String, String), Array[StoredBlock]) => U): Array[U] =
    maps.flatMap(m => keys.flatMap(k => Option(m.get(k)).map(f(k, _)))).toArray

  /** `body` of store partition `p` of RDD `rddId`, if this JVM's block
    * manager holds it. `getLocalValues` read-locks the block until its
    * iterator is exhausted, and on a driver thread no task end releases a
    * leaked lock (`unpersist` would wait on it for ever). So the lock is
    * released here, also when `body` throws: asking `hasNext` of an iterator
    * whose values are all taken releases it, and one that still has values
    * is released by hand.
    */
  private def readLocal[U](rddId: Int, p: Int)(body: Iterator[Terms] => U): Option[U] = {
    val id = RDDBlockId(rddId, p)
    val bm = SparkEnv.get.blockManager
    bm.getLocalValues(id).map { r =>
      val maps = r.data.asInstanceOf[Iterator[Terms]]
      try body(maps) finally if (maps.hasNext) bm.releaseLock(id)
    }
  }

  /** The task of a lookup job: [[select]] over its partition's map. A named
    * function class, not a lambda, so that `SparkContext.clean` returns at
    * once instead of reading a closure's class file with ASM on every
    * lookup.
    */
  private final class Lookup[U: ClassTag](
      byPart: Map[Int, Seq[(String, String)]],
      f: ((String, String), Array[StoredBlock]) => U)
      extends ((TaskContext, Iterator[Terms]) => Array[U]) with Serializable {
    def apply(ctx: TaskContext, maps: Iterator[Terms]): Array[U] = select(byPart(ctx.partitionId()), maps, f)
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
