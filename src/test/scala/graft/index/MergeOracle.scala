package graft.index

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Decoded posting entry with optional positions (top-level: Janino codegen
  * cannot construct deeply nested case classes). Positions stay in their
  * per-doc packed byte form ([[PostingCodec.slicePositions]]): docId
  * rebasing never touches doc-internal positions, so the merge moves them
  * as opaque bytes.
  */
final case class FullEntry(doc_id: Int, tf: Int, norm_id: Int, positions: Array[Byte])

/** The per-occurrence segment-merge posting path, kept as the tests' oracle
  * for `Maintenance.mergeSegments`: explode every posting occurrence of the
  * merged segments (`unpackFull`), rebase its doc id through an
  * `(old_seg, old_doc) → new_doc` mapping (an inner join, so unmapped docs
  * drop), and pack the occurrences into posting blocks with one shuffle on
  * `(segment_id, field, term, block_id)` (`packPostings`). It shares only
  * [[PostingCodec]] and the block schema with the code it checks.
  */
object MergeOracle {

  private val unpackFull: UserDefinedFunction =
    udf((docIds: Array[Byte], tfs: Array[Byte], norms: Array[Byte], pos: Array[Byte], n: Int) => {
      val ids = PostingCodec.unpackDocIds(docIds, n)
      val tf = PostingCodec.unpackVarInts(tfs, n)
      val ps =
        if (pos == null) null
        else PostingCodec.slicePositions(pos, tf)
      Array.tabulate(n)(i =>
        FullEntry(ids(i), tf(i), norms(i) & 0xFF, if (ps == null) null else ps(i)))
    })

  /** The new segment's posting blocks: `oldPostings` are the merged
    * segments' block rows, `mapping` has `(old_seg, old_doc, new_doc)`.
    */
  def postings(
      oldPostings: DataFrame,
      mapping: DataFrame,
      schema: IndexSchema,
      newSeg: Int,
      blockBits: Int,
      parts: Int
  ): DataFrame = {
    val exploded = oldPostings
      .select(
        col("field"), col("term"), col("segment_id").as("old_seg"),
        explode(unpackFull(col("doc_ids"), col("tfs"), col("norms"), col("positions"),
          col("doc_count"))).as("p"))
      .select(
        col("field"), col("term"), col("old_seg"),
        col("p.doc_id").as("old_doc"), col("p.tf").as("tf"),
        col("p.norm_id").as("norm_id"), col("p.positions").as("positions"))
    val remapped = exploded
      .join(mapping, Seq("old_seg", "old_doc"))
      .select(
        lit(newSeg).as("segment_id"), col("new_doc").as("doc_id"),
        col("field"), col("term"), col("tf"), col("norm_id"), col("positions"))

    val recordPositions = schema.fields.map(f => f.name -> (f.record == "position")).toMap
    packPostings(remapped, blockBits, parts, recordPositions)
  }

  /** Pack token rows `(segment_id, doc_id, field, term, tf, norm_id,
    * positions)` into posting-block rows: one shuffle keyed by (segment,
    * field, term, block), then a streaming pack over each sorted key run.
    */
  def packPostings(
      tokens: DataFrame,
      blockBits: Int,
      parts: Int,
      recordPositions: Map[String, Boolean]
  ): DataFrame = {
    val spark = tokens.sparkSession
    val bcRecPos = spark.sparkContext.broadcast(recordPositions)
    val parted = tokens
      .select(
        col("segment_id"), col("doc_id"), col("field"), col("term"),
        col("tf"), col("norm_id"), col("positions"))
      .withColumn("block_id", shiftright(col("doc_id"), blockBits).cast(IntegerType))
      .repartition(parts, col("segment_id"), col("field"), col("term"), col("block_id"))
      .sortWithinPartitions("segment_id", "field", "term", "block_id", "doc_id")

    parted.mapPartitions { rows =>
      val recPos = bcRecPos.value
      new Iterator[Row] {
        private val it = rows.buffered
        def hasNext: Boolean = it.hasNext
        def next(): Row = {
          val head = it.head
          val seg = head.getInt(0)
          val field = head.getString(2)
          val term = head.getString(3)
          val blockId = head.getInt(7)
          val docIds = new scala.collection.mutable.ArrayBuffer[Int](64)
          val tfs = new scala.collection.mutable.ArrayBuffer[Int](64)
          val norms = new scala.collection.mutable.ArrayBuffer[Int](64)
          val poss = new scala.collection.mutable.ArrayBuffer[Array[Byte]](64)
          var posLen = 0
          val withPos = recPos.getOrElse(field, false)
          var more = true
          while (more && it.hasNext) {
            val r = it.head
            if (r.getInt(0) == seg && r.getString(2) == field && r.getString(3) == term &&
                r.getInt(7) == blockId) {
              it.next()
              docIds += r.getInt(1)
              tfs += r.getInt(4)
              norms += r.getInt(5)
              if (withPos) {
                val pb = r.getAs[Array[Byte]](6)
                poss += pb
                posLen += pb.length
              }
            } else more = false
          }
          val docIdsA = docIds.toArray
          val tfsA = tfs.toArray
          val docIdsB = PostingCodec.packDocIds(docIdsA)
          val tfsB = PostingCodec.packVarInts(tfsA)
          val normsB = norms.map(_.toByte).toArray
          // block positions = concatenation of the pre-packed per-doc runs
          // (bit-identical to packing the decoded arrays here)
          val posB = if (withPos) {
            val b = new Array[Byte](posLen)
            var o = 0
            poss.foreach { pb => System.arraycopy(pb, 0, b, o, pb.length); o += pb.length }
            b
          } else null
          val bytes = docIdsB.length.toLong + tfsB.length + normsB.length +
            (if (posB == null) 0 else posB.length)
          Row(
            field, term, seg, blockId,
            docIdsA.length, docIdsA.head, docIdsA.last,
            tfsA.max, norms.min,
            tfsA.map(_.toLong).sum,
            docIdsB, tfsB, normsB, posB, bytes
          )
        }
      }
    }(Encoders.row(IndexBuilder.packSchema))
  }
}
