package graft.index

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.search.IndexReader

/** Index maintenance: segment merges, merge policies, vacuum, delete-by-set,
  * incremental upsert ingestion — the write-path operators W1–W9 of
  * SURVEY.md §2.7 (reference:
  * `/root/reference/summa-core/src/components/index_writer_holder.rs:289-473`
  * and the merge_policies module).
  */
object Maintenance {

  /** Merge the given segments into one new segment (W3: `merge_segments`,
    * `index_writer_holder.rs:403-414`; tantivy's merger is a doc-id mapping
    * plus a per-term posting stream merge) with the build's segment writer:
    *
    *  1. docs: tombstoned docs drop and the live ones re-rank by key into
    *     the new segment through [[IndexBuilder.assignDocIds]], whose pass-1
    *     aggregates give the new segment's doc and token totals;
    *  2. postings: the assignment becomes one `old_doc → new_doc` array per
    *     merged segment (−1 for a dropped doc), broadcast to a map side that
    *     re-blocks every old posting block into fragments of the new blocks
    *     ([[reblock]]); the build's postings write
    *     ([[IndexBuilder.writePostings]]) merges them into blocks
    *     byte-identical to a single-pass pack, stores them and counts the
    *     new segment's terms and posting bytes;
    *  3. stats: the build's [[IndexBuilder.writeStats]], with the parents'
    *     deepest `merge_depth` + 1 and the merged segment ids as lineage.
    *
    * Publishes a new snapshot (live − merged + new).
    *
    * @return the new segment id
    */
  def mergeSegments(
      spark: SparkSession,
      indexDir: String,
      schema: IndexSchema,
      segIds: Seq[Int],
      buildId: String,
      conf: IndexBuilder.BuildConf = IndexBuilder.BuildConf()
  ): Int = {
    require(segIds.nonEmpty, "no segments to merge")
    val reader = new IndexReader(spark, indexDir)
    val live = reader.snapshot.map(_.segments).getOrElse(
      sys.error("mergeSegments requires a snapshot-committed index"))
    require(segIds.forall(live.contains), s"segments not live: ${segIds.filterNot(live.contains)}")
    val newSeg = live.max + 1
    val parts = conf.partitions(spark)
    val segCond = col("segment_id").isin(segIds.map(Integer.valueOf): _*)
    val parentDepth = reader.metrics
      .filter(segCond)
      .agg(max("merge_depth"))
      .collect()(0).getInt(0)

    // 1. merged docs: drop tombstones, re-rank keys into the new segment
    val oldDocs = reader.applyDeletes(reader.docs.filter(segCond))
      .withColumnRenamed("segment_id", "old_seg")
      .withColumnRenamed("doc_id", "old_doc")
      .withColumnRenamed("key", "__key")
      .withColumn("segment_id", lit(newSeg))
    val sorted = IndexBuilder.shardAndSort(oldDocs, parts, oldDocs.columns.toSeq.map(col))
    val lenAggs = schema.fields.map(f => sum(col(s"len_${f.name}")).as(s"tt_${f.name}"))
    val (withIds0, handle, _, segAggs) =
      IndexBuilder.assignDocIds(sorted, parts, lenAggs)
    // The docs write below OVERWRITES $indexDir/docs — the very path the
    // cached assignment plan reads from. That insert triggers Spark's
    // path-based recache, so a second consumption of the assignment (the
    // remap arrays) would silently RECOMPUTE it from the rewritten table
    // with fresh range-partition sampling — a different key→doc_id
    // permutation than the one just written. (Latent since the merge was
    // written; caught by CompactionSpec's 64-segment two-wave stress test:
    // 821/1163 postings landed on wrong doc ids.) An EAGER localCheckpoint
    // pins the assignment as materialized blocks detached from the input
    // path, so both consumers read the same permutation; the build cache
    // underneath is then released.
    val withIds = withIds0.localCheckpoint()
    handle.unpersist()

    IndexBuilder.writeDocs(
      withIds
        .drop("old_seg", "old_doc")
        .withColumnRenamed("__key", "key")
        .repartitionByRange(math.max(parts / 4, 1), col("doc_id"))
        .sortWithinPartitions("doc_id"),
      schema, indexDir)

    // 2. postings: re-block the old blocks through the build's reduce
    val remap = spark.sparkContext.broadcast(remapArrays(withIds))
    val totals = IndexBuilder.writePostings(
      reblock(reader.postings.filter(segCond), remap, newSeg, conf.blockBits, schema.recordPositions),
      parts, indexDir, Seq(newSeg))
    remap.destroy()

    // 3. per-segment stats + lineage for the new segment (no pass-1 row when
    //    every merged doc was tombstoned: the segment is empty)
    val segStat = IndexBuilder.segStats(schema, segAggs).headOption.getOrElse(
      IndexBuilder.SegStat(newSeg, 0L, schema.fields.map(_.name -> 0L).toMap))
    IndexBuilder.writeStats(spark, schema, indexDir, buildId, Seq(segStat), conf.blockBits,
      totals, parentDepth + 1, segIds)

    // 4. atomic publish FIRST: the new snapshot retires the merged segments.
    //    Only then drop their tombstones — if the clear fails or a reader
    //    races between the steps, stale tombstones on retired segments are
    //    harmless (old-snapshot readers still see them; new-snapshot readers
    //    never touch the retired segments), whereas clearing before the
    //    publish would let a crash resurrect deleted docs.
    //    Frozen attribute of the merged segment = AND of its parents'
    //    (reference `segment_attributes.rs:62-68`); other segments' frozen
    //    flags carry forward inside commit.
    val prevFrozen = reader.snapshot.map(_.frozen).getOrElse(Set.empty[Int])
    val newFrozen: Set[Int] =
      if (segIds.forall(prevFrozen.contains)) Set(newSeg) else Set.empty
    Snapshots.commit(spark, indexDir, live.filterNot(segIds.contains) :+ newSeg, buildId,
      freeze = newFrozen)

    // 5. tombstones of merged segments are baked into the new segment — drop
    clearDeletes(spark, indexDir, segIds)
    newSeg
  }

  /** `old_doc → new_doc` per merged segment (−1: dropped) from the pinned
    * assignment `(old_seg, old_doc, doc_id)`. Executors pack each
    * partition's pairs into one int array per segment, so the driver
    * collects 8 bytes per merged doc and keeps 4.
    */
  private def remapArrays(withIds: DataFrame): Map[Int, Array[Int]] = {
    import withIds.sparkSession.implicits._
    val chunks = withIds.select("old_seg", "old_doc", "doc_id").as[(Int, Int, Int)]
      .mapPartitions { rows =>
        val bySeg = scala.collection.mutable.HashMap[Int, scala.collection.mutable.ArrayBuilder.ofInt]()
        rows.foreach { case (seg, oldDoc, newDoc) =>
          bySeg.getOrElseUpdate(seg, new scala.collection.mutable.ArrayBuilder.ofInt) += oldDoc += newDoc
        }
        bySeg.iterator.map { case (seg, b) => (seg, b.result()) }
      }
      .collect()
    chunks.groupBy(_._1).map { case (seg, cs) =>
      val pairs = cs.flatMap(_._2)
      var size = 0
      var i = 0
      while (i < pairs.length) { size = math.max(size, pairs(i) + 1); i += 2 }
      val m = Array.fill(size)(-1)
      i = 0
      while (i < pairs.length) { m(pairs(i)) = pairs(i + 1); i += 2 }
      seg -> m
    }
  }

  /** Map side of the merge's postings: decode each old posting block (doc
    * ids, tfs, norm bytes, per-doc position runs), remap its docs and drop
    * the −1s, sort by new doc — duplicate keys tie arbitrarily in the
    * merged key order, so the remap need not be monotone even inside one
    * old segment — and emit one [[IndexBuilder.packSchema]] fragment per
    * new block (`new_doc >>> blockBits`) its docs land in.
    */
  private def reblock(
      oldBlocks: DataFrame,
      remap: Broadcast[Map[Int, Array[Int]]],
      newSeg: Int,
      blockBits: Int,
      recordPositions: Map[String, Boolean]
  ): DataFrame =
    oldBlocks
      .select("field", "term", "segment_id", "doc_count", "doc_ids", "tfs", "norms", "positions")
      .mapPartitions { rows =>
        val remaps = remap.value
        rows.flatMap { r =>
          val (field, term, n) = (r.getString(0), r.getString(1), r.getInt(3))
          val m = remaps.getOrElse(r.getInt(2), Array.emptyIntArray)
          val olds = PostingCodec.unpackDocIds(r.getAs[Array[Byte]](4), n)
          val tfs = PostingCodec.unpackVarInts(r.getAs[Array[Byte]](5), n)
          val norms = r.getAs[Array[Byte]](6)
          val pos =
            if (recordPositions.getOrElse(field, false))
              PostingCodec.slicePositions(r.getAs[Array[Byte]](7), tfs)
            else null
          // surviving postings as (new_doc << 32 | index), sorted = new-doc order
          val keys = new Array[Long](n)
          var k = 0
          var i = 0
          while (i < n) {
            val d = if (olds(i) < m.length) m(olds(i)) else -1
            if (d >= 0) { keys(k) = (d.toLong << 32) | i; k += 1 }
            i += 1
          }
          java.util.Arrays.sort(keys, 0, k)
          val out = Vector.newBuilder[Row]
          var from = 0
          while (from < k) {
            val block = (keys(from) >>> 32).toInt >>> blockBits
            var until = from + 1
            while (until < k && ((keys(until) >>> 32).toInt >>> blockBits) == block) until += 1
            val slice = java.util.Arrays.copyOfRange(keys, from, until)
            val idx = slice.map(_.toInt)
            out += IndexBuilder.packBlock(field, term, newSeg, block,
              slice.map(key => (key >>> 32).toInt), idx.map(tfs(_)), idx.map(norms(_)),
              if (pos == null) null else Array.concat(idx.map(pos(_)).toSeq: _*))
            from = until
          }
          out.result()
        }
      }(Encoders.row(IndexBuilder.packSchema))

  /** Append tombstones for a doc-set (W/S8: delete by query — callers pass
    * `searcher.search(query)` output).
    */
  def deleteDocs(spark: SparkSession, indexDir: String, hits: DataFrame): Long = {
    // shuffled by segment alone (the distinct needs no second shuffle), so
    // each call adds one file per segment it touches: a fresh reader's
    // tombstone collect opens every file
    val rows = hits.select("segment_id", "doc_id").repartition(col("segment_id")).distinct().persist()
    val n = rows.count()
    // tombstones are hive-partitioned by segment_id so that retiring a
    // merged segment's deletes is a metadata-only partition drop — no
    // driver-side collect, scales to arbitrary delete volumes
    if (n > 0) rows.write.mode("append").partitionBy("segment_id").parquet(s"$indexDir/deletes")
    rows.unpersist()
    n
  }

  /** Drop the given segments' tombstone partitions (pure FS metadata ops;
    * tombstones of other segments are untouched — no table rewrite).
    */
  private def clearDeletes(spark: SparkSession, indexDir: String, segIds: Seq[Int]): Unit = {
    val root = new org.apache.hadoop.fs.Path(s"$indexDir/deletes")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    segIds.foreach { s =>
      val p = new org.apache.hadoop.fs.Path(root, s"segment_id=$s")
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  // -------------------------------------------------------- merge policies

  /** Mark segments frozen / unfrozen (reference `segment_attributes.rs:10-14`
    * + `FrozenLogMergePolicy`): frozen segments are excluded from merge
    * policies and vacuum. The attribute lives in the snapshot, so it
    * survives restarts and is AND-merged by [[mergeSegments]].
    */
  def freezeSegments(
      spark: SparkSession,
      indexDir: String,
      segIds: Seq[Int],
      frozen: Boolean = true,
      buildId: String = "freeze"): Snapshot = {
    val live = Snapshots.latest(spark, indexDir).map(_.segments).getOrElse(
      sys.error("freezeSegments requires a snapshot-committed index"))
    require(segIds.forall(live.contains), s"segments not live: ${segIds.filterNot(live.contains)}")
    if (frozen) Snapshots.commit(spark, indexDir, live, buildId, freeze = segIds.toSet)
    else Snapshots.commit(spark, indexDir, live, buildId, unfreeze = segIds.toSet)
  }

  /** tantivy-style log merge policy (W4, `merge_policies/log_merge_policy.rs`):
    * bucket live segments by log of doc count; any bucket with >=
    * minNumSegments members is a merge candidate. Driver-side over the
    * metrics table. Frozen segments are filtered out exactly as the
    * reference's `FrozenLogMergePolicy` does
    * (`log_merge_policy.rs:27-43`).
    */
  def logMergeCandidates(
      segDocs: Seq[(Int, Long)],
      minNumSegments: Int = 8,
      maxDocsBeforeMerge: Long = 10_000_000L,
      minLayerSize: Long = 10_000L,
      levelLogSize: Double = 0.75,
      frozen: Set[Int] = Set.empty
  ): Seq[Seq[Int]] = {
    val eligible = segDocs
      .filterNot(s => frozen.contains(s._1))
      .filter(_._2 <= maxDocsBeforeMerge).sortBy(-_._2)
    if (eligible.isEmpty) return Nil
    def logSize(n: Long): Double = math.log(math.max(n, minLayerSize).toDouble)
    val out = Vector.newBuilder[Seq[Int]]
    var bucket = Vector.empty[(Int, Long)]
    var bucketMax = Double.NegativeInfinity
    def flush(): Unit = {
      if (bucket.size >= minNumSegments) out += bucket.map(_._1)
      bucket = Vector.empty
      bucketMax = Double.NegativeInfinity
    }
    eligible.foreach { case (seg, n) =>
      val l = logSize(n)
      if (bucket.isEmpty || l >= bucketMax - levelLogSize) {
        if (bucket.isEmpty) bucketMax = l
        bucket :+= (seg, n)
      } else {
        flush()
        bucketMax = l
        bucket = Vector((seg, n))
      }
    }
    flush()
    out.result()
  }

  /** Temporal merge policy (W5, `merge_policies/temporal_merge_policy.rs:26-53`):
    * one candidate of every live, non-frozen segment older than the pivot.
    */
  def temporalMergeCandidates(
      segCreatedAt: Seq[(Int, Long)],
      mergeOlderThanSecs: Long,
      nowMillis: Long = System.currentTimeMillis(),
      frozen: Set[Int] = Set.empty
  ): Seq[Seq[Int]] = {
    val pivot = nowMillis - mergeOlderThanSecs * 1000
    val old = segCreatedAt.filterNot(s => frozen.contains(s._1)).filter(_._2 < pivot).map(_._1)
    if (old.isEmpty) Nil else Seq(old)
  }

  /** Latest metrics row per live segment: (segment_id, num_docs, created_at millis). */
  def liveSegmentStats(spark: SparkSession, indexDir: String): Seq[(Int, Long, Long)] = {
    val reader = new IndexReader(spark, indexDir)
    val live = reader.snapshot.map(_.segments).getOrElse(Nil).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("segment_id").orderBy(col("created_at").desc)
    reader.metrics
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("segment_id", "num_docs", "created_at")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getTimestamp(2).getTime))
      .filter(t => live.contains(t._1))
      .toSeq
  }

  /** Background-compaction analog: repeatedly apply the log merge policy
    * over live-segment stats until no candidates remain (the reference's
    * merge-thread loop, driver-scheduled here).
    *
    * @return the new segment ids created, in order
    */
  def autoCompact(
      spark: SparkSession,
      indexDir: String,
      schema: IndexSchema,
      buildId: String,
      minNumSegments: Int = 8,
      conf: IndexBuilder.BuildConf = IndexBuilder.BuildConf()
  ): Seq[Int] = {
    val created = Vector.newBuilder[Int]
    var round = 0
    var more = true
    while (more) {
      val stats = liveSegmentStats(spark, indexDir).map(t => (t._1, t._2))
      val frozen = Snapshots.latest(spark, indexDir).map(_.frozen).getOrElse(Set.empty[Int])
      val cands = logMergeCandidates(stats, minNumSegments = minNumSegments, frozen = frozen)
      if (cands.isEmpty) more = false
      else {
        cands.foreach { segIds =>
          created += mergeSegments(spark, indexDir, schema, segIds, s"$buildId/compact-$round", conf)
        }
        round += 1
      }
    }
    created.result()
  }

  /** Vacuum (W6, `index_writer_holder.rs:425-461`): merge all live,
    * non-excluded, non-frozen segments into one (the reference's
    * `!is_frozen && !is_excluded` filter, `index_writer_holder.rs:438-448`).
    */
  def vacuum(
      spark: SparkSession,
      indexDir: String,
      schema: IndexSchema,
      buildId: String,
      excludedSegments: Set[Int] = Set.empty,
      conf: IndexBuilder.BuildConf = IndexBuilder.BuildConf()
  ): Option[Int] = {
    val snap = Snapshots.latest(spark, indexDir)
    val live = snap.map(_.segments).getOrElse(Nil)
    val frozen = snap.map(_.frozen).getOrElse(Set.empty[Int])
    val targets = live.filterNot(excludedSegments.contains).filterNot(frozen.contains)
    if (targets.size < 2) None
    else Some(mergeSegments(spark, indexDir, schema, targets, buildId, conf))
  }

  // ----------------------------------------------------- incremental ingest

  /** Upsert conflict handling, mirroring the reference's four strategies
    * (`summa-proto/proto/index_service.proto:134-139`, implemented by
    * `resolve_conflicts`, `index_writer_holder.rs:290-332`).
    */
  sealed trait ConflictStrategy
  object ConflictStrategy {
    /** No conflict resolution at all (`DO_NOTHING`): incoming docs are
      * indexed as-is and duplicate keys may coexist — the reference docs
      * recommend this for large updates where the application maintains
      * uniqueness itself.
      */
    case object DoNothing extends ConflictStrategy
    /** Tombstone existing docs sharing a key, index incoming (`OVERWRITE`). */
    case object Overwrite extends ConflictStrategy
    /** `OVERWRITE_ALWAYS` — same delete-then-add at this layer; the
      * reference core's `resolve_conflicts` also treats every
      * non-DO_NOTHING strategy as delete-by-unique-term then add.
      */
    case object OverwriteAlways extends ConflictStrategy
    /** `MERGE`: field-wise coalesce of the incoming doc over the latest
      * existing version before re-indexing — a null/absent incoming field
      * keeps the existing value. Only fields present in the doc store
      * (key + storedFields) can be recovered from the index; indexed-only
      * fields always come from the incoming doc.
      */
    case object Merge extends ConflictStrategy
  }

  /** Incremental ingestion with upsert semantics (S2 + W7: index_bulk +
    * resolve_conflicts): builds new segments from `newDocs` at the next free
    * segment-id range, resolves key conflicts per the strategy, publishes one
    * atomic snapshot. This is also the `foreachBatch` body for streaming
    * ingestion.
    *
    * @return new segment ids
    */
  def addDocuments(
      spark: SparkSession,
      indexDir: String,
      schema: IndexSchema,
      newDocs: DataFrame,
      buildId: String,
      strategy: ConflictStrategy = ConflictStrategy.Overwrite,
      conf: IndexBuilder.BuildConf = IndexBuilder.BuildConf()
  ): Seq[Int] = {
    val reader = new IndexReader(spark, indexDir)
    val live = reader.snapshot.map(_.segments).getOrElse(Nil)
    val segOffset = if (live.isEmpty) 0 else live.max + 1

    // bootstrapping a fresh index: no existing docs, no conflicts.
    // Conflict tombstones are DEFERRED until after the new segments are
    // built: the Merge strategy's coalesce source reads the pre-delete doc
    // store (tombstoning first would erase it mid-plan), and deferral also
    // shrinks the window in which live readers see deletes without their
    // replacements. (reader.docs is pinned to the current snapshot, so the
    // deferred conflict scan never sees the segments being built.)
    lazy val incomingKeys = newDocs
      .select(schema.keyColumn.as("key")).distinct()
    val (toIndex, deferredTombstones): (DataFrame, Option[DataFrame]) =
      if (live.isEmpty) (newDocs, None)
      else strategy match {
        case ConflictStrategy.DoNothing =>
          // reference `resolve_conflicts` short-circuits for DO_NOTHING:
          // incoming docs index as-is, duplicate keys may coexist
          (newDocs, None)
        case ConflictStrategy.Overwrite | ConflictStrategy.OverwriteAlways =>
          // tombstone every live doc sharing a key with the incoming batch
          val conflicts = reader.docs
            .join(incomingKeys, Seq("key"))
            .select("segment_id", "doc_id")
          (newDocs, Some(conflicts))
        case ConflictStrategy.Merge =>
          // field-wise coalesce of incoming over the LATEST existing stored
          // version of each conflicting key, then overwrite. Only columns
          // recoverable from the doc store participate; the per-key window
          // is partitioned by key, so it scales with the batch, not the index.
          val conflicts = reader.applyDeletes(reader.docs)
            .join(incomingKeys, Seq("key"))
          val mergeCols = schema.storedFields.filter(newDocs.columns.contains)
          val merged =
            if (mergeCols.isEmpty) newDocs
            else {
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy("key").orderBy(col("segment_id").desc, col("doc_id").desc)
              val latest = conflicts
                .withColumn("__rn", row_number().over(w))
                .filter(col("__rn") === 1)
                .select(col("key").as("__mkey") +: mergeCols.map(f => col(f).as(s"__old_$f")): _*)
              val joined = newDocs.join(latest, schema.keyColumn === col("__mkey"), "left")
              mergeCols
                .foldLeft(joined)((df, f) => df.withColumn(f, coalesce(col(f), col(s"__old_$f"))))
                .drop("__mkey" +: mergeCols.map(f => s"__old_$f"): _*)
            }
          (merged, Some(conflicts.select("segment_id", "doc_id")))
      }

    val segs = IndexBuilder.buildSegments(
      spark, toIndex, schema, indexDir, buildId, conf, segOffset)
    deferredTombstones.foreach(deleteDocs(spark, indexDir, _))
    if (live.isEmpty) IndexSchema.write(spark, indexDir, schema)
    Snapshots.commit(spark, indexDir, live ++ segs, buildId)
    segs
  }
}
