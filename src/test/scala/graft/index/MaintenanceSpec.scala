package graft.index

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.search._

class MaintenanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = IndexSchema(
    keyField = "doc_id",
    fields = Seq(FieldDef("text", "summa", "position")),
    defaultFields = Seq("text"),
    storedFields = Nil
  )

  private val vocab = Vector("spark", "window", "merge", "table", "scan", "join", "filter", "query")
  private def corpus(n: Int, seed: Int): Vector[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    Vector.tabulate(n)(i => (i.toLong, Vector.fill(8 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
  }

  private def keyScores(s: Searcher, q: Query): Map[String, Double] =
    s.reader.docs.select(col("segment_id"), col("doc_id"), col("key"))
      .join(s.search(q), Seq("segment_id", "doc_id"))
      .collect().map(r => r.getAs[String]("key") -> r.getAs[Double]("score")).toMap

  test("merge preserves (key, score) results exactly; lineage recorded") {
    val dir = Files.createTempDirectory("graft-merge").toString
    val df = corpus(150, 3).toDF("doc_id", "text")
    IndexBuilder.build(spark, df, schema, dir, "b0", IndexBuilder.BuildConf(numSegments = 4))

    val before = keyScores(new Searcher(new IndexReader(spark, dir), schema), TermQuery("text", "spark"))
    val live0 = Snapshots.latest(spark, dir).get.segments
    assert(live0.size == 4)

    val newSeg = Maintenance.mergeSegments(spark, dir, schema, live0.take(2), "m1",
      IndexBuilder.BuildConf(numSegments = 4))
    val snap1 = Snapshots.latest(spark, dir).get
    assert(snap1.segments.sorted == (live0.drop(2) :+ newSeg).sorted)

    val after = keyScores(new Searcher(new IndexReader(spark, dir), schema), TermQuery("text", "spark"))
    assert(after == before, "merge must not change (key, score) results")

    // phrase queries still work post-merge (positions survived the rebase)
    val ph = new Searcher(new IndexReader(spark, dir), schema)
      .count(PhraseQuery("text", Seq((0, "spark"), (1, "window")), 0))
    val phBefore = {
      val s2dir = Files.createTempDirectory("graft-merge-ref").toString
      IndexBuilder.build(spark, df, schema, s2dir, "ref", IndexBuilder.BuildConf(numSegments = 1))
      new Searcher(new IndexReader(spark, s2dir), schema)
        .count(PhraseQuery("text", Seq((0, "spark"), (1, "window")), 0))
    }
    assert(ph == phBefore)

    // lineage: the merged segment records its parents and depth 1
    val m = new IndexReader(spark, dir).metrics
      .filter(col("segment_id") === newSeg).orderBy(col("created_at").desc).collect().head
    assert(m.getAs[Int]("merge_depth") == 1)
    assert(m.getSeq[String](m.fieldIndex("parent_segments")).map(_.toInt).sorted == live0.take(2).sorted)
  }

  /** Σ doc_count over each sampled term's live posting blocks, and termstats
    * df summed over live segments: the WAND route takes df from the former.
    */
  private def assertBlockDfsMatchStats(dir: String, terms: Seq[String]): Unit = {
    val r = new IndexReader(spark, dir)
    def dfs(table: org.apache.spark.sql.DataFrame, c: String): Map[String, Long] =
      table.filter(col("field") === "text" && col("term").isin(terms: _*))
        .groupBy("term").agg(sum(c).cast("long"))
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val fromBlocks = dfs(r.postings, "doc_count")
    assert(fromBlocks.nonEmpty)
    assert(fromBlocks == dfs(r.termStatsDf, "df"))
  }

  test("df identity: live posting blocks' doc_count sums equal termstats df") {
    val dir = Files.createTempDirectory("graft-dfid").toString
    val sample = vocab :+ "nosuchterm"
    val conf = IndexBuilder.BuildConf(numSegments = 3, blockBits = 4)
    IndexBuilder.build(spark, corpus(200, 11).toDF("doc_id", "text"), schema, dir, "b0", conf)
    assertBlockDfsMatchStats(dir, sample)

    // an upsert that replaces some keys and adds new ones
    val batch = corpus(260, 12).drop(150).toDF("doc_id", "text")
    Maintenance.addDocuments(spark, dir, schema, batch, "up1",
      Maintenance.ConflictStrategy.Overwrite, conf.copy(numSegments = 1))
    assertBlockDfsMatchStats(dir, sample)

    Maintenance.mergeSegments(spark, dir, schema, Snapshots.latest(spark, dir).get.segments, "m1", conf)
    assert(Snapshots.latest(spark, dir).get.segments.size == 1)
    assertBlockDfsMatchStats(dir, sample)
  }

  test("delete-by-query tombstones, then merge bakes them in") {
    val dir = Files.createTempDirectory("graft-del").toString
    val df = corpus(100, 5).toDF("doc_id", "text")
    IndexBuilder.build(spark, df, schema, dir, "b0", IndexBuilder.BuildConf(numSegments = 3))

    val s0 = new Searcher(new IndexReader(spark, dir), schema)
    val sparkDocs = s0.count(TermQuery("text", "spark"))
    val bothDocs = s0.count(BooleanQuery(Seq(
      (Occur.Must, TermQuery("text", "spark")), (Occur.Must, TermQuery("text", "merge")))))
    assert(sparkDocs > 0 && bothDocs > 0)

    // delete docs matching (spark AND merge)
    val del = Maintenance.deleteDocs(spark, dir,
      s0.search(BooleanQuery(Seq(
        (Occur.Must, TermQuery("text", "spark")), (Occur.Must, TermQuery("text", "merge"))))))
    assert(del == bothDocs)

    val s1 = new Searcher(new IndexReader(spark, dir), schema)
    assert(s1.count(TermQuery("text", "spark")) == sparkDocs - bothDocs)

    // vacuum merges everything, dropping tombstoned docs physically
    val merged = Maintenance.vacuum(spark, dir, schema, "v1",
      conf = IndexBuilder.BuildConf(numSegments = 3))
    assert(merged.isDefined)
    val r2 = new IndexReader(spark, dir)
    assert(r2.deletes.isEmpty, "tombstones must be cleared after merge")
    val s2 = new Searcher(r2, schema)
    assert(s2.count(TermQuery("text", "spark")) == sparkDocs - bothDocs)
    assert(r2.docs.count() == 100 - bothDocs)
  }

  test("upsert addDocuments: all four reference conflict strategies") {
    val dir = Files.createTempDirectory("graft-upsert").toString
    val df = Seq((1L, "spark window"), (2L, "merge table"), (3L, "scan filter"))
      .toDF("doc_id", "text")
    IndexBuilder.build(spark, df, schema, dir, "b0", IndexBuilder.BuildConf(numSegments = 2))

    // OVERWRITE: replace doc 2 + add doc 4
    val batch = Seq((2L, "spark spark spark"), (4L, "window query")).toDF("doc_id", "text")
    Maintenance.addDocuments(spark, dir, schema, batch, "up1",
      Maintenance.ConflictStrategy.Overwrite, IndexBuilder.BuildConf(numSegments = 1))

    val s1 = new Searcher(new IndexReader(spark, dir), schema)
    assert(s1.count(TermQuery("text", "merge")) == 0, "old doc 2 must be gone")
    val sparkHits = keyScores(s1, TermQuery("text", "spark")).keySet
    assert(sparkHits == Set("1", "2"))
    assert(s1.count(AllQuery) == 4)

    // OVERWRITE_ALWAYS: delete-then-add at this layer, like the reference's
    // resolve_conflicts (every non-DO_NOTHING strategy deletes by key)
    val batchOA = Seq((4L, "filter filter")).toDF("doc_id", "text")
    Maintenance.addDocuments(spark, dir, schema, batchOA, "up-oa",
      Maintenance.ConflictStrategy.OverwriteAlways, IndexBuilder.BuildConf(numSegments = 1))
    val sOA = new Searcher(new IndexReader(spark, dir), schema)
    assert(sOA.count(TermQuery("text", "query")) == 0, "doc 4's old version must be gone")
    assert(sOA.count(AllQuery) == 4)

    // DO_NOTHING: no conflict resolution — the reference indexes the doc
    // as-is and duplicate keys coexist (index_writer_holder.rs:291-293)
    val batch2 = Seq((4L, "merge merge"), (5L, "table scan")).toDF("doc_id", "text")
    Maintenance.addDocuments(spark, dir, schema, batch2, "up2",
      Maintenance.ConflictStrategy.DoNothing, IndexBuilder.BuildConf(numSegments = 1))
    val s2 = new Searcher(new IndexReader(spark, dir), schema)
    assert(s2.count(TermQuery("text", "merge")) == 1, "new doc 4 indexed alongside old")
    assert(s2.count(AllQuery) == 6, "both versions of doc 4 coexist")
  }

  test("upsert Merge coalesces incoming fields over the latest stored doc") {
    val dir = Files.createTempDirectory("graft-upsert-merge").toString
    val mschema = IndexSchema(
      keyField = "doc_id",
      fields = Seq(FieldDef("text", "summa", "position")),
      defaultFields = Seq("text"),
      storedFields = Seq("text", "lang"))
    val df = Seq((1L, "spark window", "en"), (2L, "merge table", "de"))
      .toDF("doc_id", "text", "lang")
    IndexBuilder.build(spark, df, mschema, dir, "b0", IndexBuilder.BuildConf(numSegments = 1))

    // incoming doc 2 has a new text but NO lang: Merge keeps the stored lang
    val batch = Seq((2L, "fresh words", null.asInstanceOf[String]))
      .toDF("doc_id", "text", "lang")
    Maintenance.addDocuments(spark, dir, mschema, batch, "m1",
      Maintenance.ConflictStrategy.Merge, IndexBuilder.BuildConf(numSegments = 1))
    val r = new IndexReader(spark, dir)
    val s = new Searcher(r, mschema)
    assert(s.count(AllQuery) == 2, "one version per key after Merge")
    assert(s.count(TermQuery("text", "fresh")) == 1, "incoming field wins when present")
    assert(s.count(TermQuery("text", "merge")) == 0, "old text replaced")
    val doc2 = r.applyDeletes(r.docs).filter(col("key") === "2").collect()
    assert(doc2.length == 1 && doc2.head.getAs[String]("lang") == "de",
      "absent incoming field keeps the stored value")

    // incoming null text + present lang: text comes from the store
    val batch2 = Seq((2L, null.asInstanceOf[String], "fr")).toDF("doc_id", "text", "lang")
    Maintenance.addDocuments(spark, dir, mschema, batch2, "m2",
      Maintenance.ConflictStrategy.Merge, IndexBuilder.BuildConf(numSegments = 1))
    val s2 = new Searcher(new IndexReader(spark, dir), mschema)
    assert(s2.count(TermQuery("text", "fresh")) == 1, "text carried from the doc store")
    val doc2b = {
      val r2 = new IndexReader(spark, dir)
      r2.applyDeletes(r2.docs).filter(col("key") === "2").collect()
    }
    assert(doc2b.length == 1 && doc2b.head.getAs[String]("lang") == "fr")
  }

  test("is_frozen persists in snapshots, blocks policies/vacuum, AND-merges") {
    val dir = Files.createTempDirectory("graft-frozen").toString
    (0 until 4).foreach { b =>
      val docs = (0 until 10).map(i => ((b * 100 + i).toLong, s"spark w$i"))
      Maintenance.addDocuments(spark, dir, schema, docs.toDF("doc_id", "text"),
        s"b$b", Maintenance.ConflictStrategy.Overwrite, IndexBuilder.BuildConf(numSegments = 1))
    }
    val live = Snapshots.latest(spark, dir).get.segments
    assert(live.size == 4)

    // freeze one segment; the attribute survives a fresh read (restart analog)
    Maintenance.freezeSegments(spark, dir, Seq(live.head))
    assert(Snapshots.latest(spark, dir).get.frozen == Set(live.head))

    // policies skip it without any caller-supplied exclusion
    val stats = live.map(s => (s, 10L))
    assert(Maintenance.logMergeCandidates(stats, minNumSegments = 4,
      frozen = Set(live.head)).isEmpty)
    assert(Maintenance.temporalMergeCandidates(live.map(s => (s, 0L)), 1,
      nowMillis = 1_000_000L, frozen = Set(live.head)) == Seq(live.tail))

    // vacuum merges only the 3 unfrozen segments
    val merged = Maintenance.vacuum(spark, dir, schema, "v",
      conf = IndexBuilder.BuildConf(numSegments = 1))
    assert(merged.isDefined)
    val snap = Snapshots.latest(spark, dir).get
    assert(snap.segments.toSet == Set(live.head, merged.get))
    assert(snap.frozen == Set(live.head), "frozen flag survives the vacuum commit")
    assert(new Searcher(new IndexReader(spark, dir), schema).count(AllQuery) == 40)

    // autoCompact also leaves the frozen segment alone: add two more small
    // segments, compact — the frozen one is never a candidate
    (4 until 6).foreach { b =>
      val docs = (0 until 10).map(i => ((b * 100 + i).toLong, s"spark w$i"))
      Maintenance.addDocuments(spark, dir, schema, docs.toDF("doc_id", "text"),
        s"b$b", Maintenance.ConflictStrategy.Overwrite, IndexBuilder.BuildConf(numSegments = 1))
    }
    assert(Maintenance.autoCompact(spark, dir, schema, "c", minNumSegments = 2,
      IndexBuilder.BuildConf(numSegments = 1)).nonEmpty)
    assert(Snapshots.latest(spark, dir).get.frozen == Set(live.head))
    assert(Snapshots.latest(spark, dir).get.segments.contains(live.head))

    // merging only-frozen segments AND-merges to frozen; mixed → unfrozen
    Maintenance.freezeSegments(spark, dir, Snapshots.latest(spark, dir).get.segments)
    val allLive = Snapshots.latest(spark, dir).get.segments
    val m2 = Maintenance.mergeSegments(spark, dir, schema, allLive, "m2",
      IndexBuilder.BuildConf(numSegments = 1))
    assert(Snapshots.latest(spark, dir).get.frozen == Set(m2),
      "AND of all-frozen parents is frozen")
    // unfreeze works
    Maintenance.freezeSegments(spark, dir, Seq(m2), frozen = false)
    assert(Snapshots.latest(spark, dir).get.frozen.isEmpty)
  }

  test("merge policies") {
    // log policy: 10 similar-sized small segments → one candidate bucket
    val segs = (0 until 10).map(i => (i, 1000L + i * 10))
    val cands = Maintenance.logMergeCandidates(segs, minNumSegments = 8)
    assert(cands.size == 1 && cands.head.size == 10)
    // one big + few small → no bucket reaches min size
    val mixed = Seq((0, 5_000_000L)) ++ (1 until 4).map(i => (i, 1000L))
    assert(Maintenance.logMergeCandidates(mixed, minNumSegments = 8).isEmpty)
    // temporal
    val now = 1_000_000_000L
    val byAge = Seq((0, now - 100_000L), (1, now - 10_000L), (2, now - 1000L))
    assert(Maintenance.temporalMergeCandidates(byAge, 50, now) == Seq(Seq(0)))
    assert(Maintenance.temporalMergeCandidates(byAge, 5, now) == Seq(Seq(0, 1)))
  }

  test("resumable wave build: skip completed waves, final result identical") {
    val df = corpus(120, 9).toDF("doc_id", "text")
    val dirA = Files.createTempDirectory("graft-resume-a").toString
    val segsA = ResumableBuild.build(spark, df, schema, dirA, "w1",
      IndexBuilder.BuildConf(numSegments = 2), waves = 3)
    assert(segsA.nonEmpty)
    assert((0 until 3).forall(w => ResumableBuild.waveCheckpoint(spark, dirA, w).isDefined))

    // re-run: all waves skipped, snapshot version bumps but same segments
    val v1 = Snapshots.latest(spark, dirA).get
    val segsA2 = ResumableBuild.build(spark, df, schema, dirA, "w1-rerun",
      IndexBuilder.BuildConf(numSegments = 2), waves = 3)
    assert(segsA2 == segsA)
    assert(Snapshots.latest(spark, dirA).get.segments == v1.segments)

    // simulate a crashed wave: remove its checkpoint, resume rebuilds it
    val f = new org.apache.hadoop.fs.Path(s"$dirA/_checkpoints/wave_1.json")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(s"$dirA/_checkpoints/wave_1.json"), false)
    val segsA3 = ResumableBuild.build(spark, df, schema, dirA, "w1-resume",
      IndexBuilder.BuildConf(numSegments = 2), waves = 3)
    assert(segsA3.sorted == segsA.sorted)

    // (key, score) results equal a single-shot build
    val dirB = Files.createTempDirectory("graft-resume-b").toString
    IndexBuilder.build(spark, df, schema, dirB, "single", IndexBuilder.BuildConf(numSegments = 4))
    val qa = keyScores(new Searcher(new IndexReader(spark, dirA), schema), TermQuery("text", "spark"))
    val qb = keyScores(new Searcher(new IndexReader(spark, dirB), schema), TermQuery("text", "spark"))
    assert(qa == qb)
  }
}

/** Snapshot time travel + auto-compaction loop. */
class CompactionSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._
  import graft.search._

  private val schema = IndexSchema(
    "doc_id", Seq(FieldDef("text", "summa", "position")), Seq("text"))

  test("autoCompact merges small segments per log policy; time travel sees old snapshots") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    // 10 tiny segments via 10 incremental batches of 1 segment each
    (0 until 10).foreach { b =>
      val docs = (0 until 20).map(i => ((b * 100 + i).toLong, s"spark merge w$i b$b"))
      Maintenance.addDocuments(spark, dir, schema, docs.toDF("doc_id", "text"),
        s"b$b", Maintenance.ConflictStrategy.Overwrite,
        IndexBuilder.BuildConf(numSegments = 1))
    }
    val before = Snapshots.latest(spark, dir).get
    assert(before.segments.size == 10)

    val created = Maintenance.autoCompact(spark, dir, schema, "compact",
      minNumSegments = 4, IndexBuilder.BuildConf(numSegments = 1))
    assert(created.nonEmpty)
    val after = Snapshots.latest(spark, dir).get
    assert(after.segments.size < 10)
    val s = new Searcher(new IndexReader(spark, dir), schema)
    assert(s.count(TermQuery("text", "spark")) == 200L)

    // time travel: a reader pinned to the pre-compaction snapshot still
    // resolves the old segment set and the same results
    val oldReader = new IndexReader(spark, dir, atVersion = Some(before.version))
    assert(oldReader.snapshot.get.segments == before.segments)
    assert(new Searcher(oldReader, schema).count(TermQuery("text", "spark")) == 200L)
  }

  test("concurrent commits never clobber: distinct versions, payloads intact") {
    // Lost-race shape the lock closes: two committers compute the same `next`;
    // the loser may claim the lock AFTER the winner released it, and on local
    // FS rename(2) silently replaces the destination. The exists(dst)-under-
    // lock check must make it bump instead. Drive 16 truly concurrent commits
    // (all launched before any finishes) and verify every one landed on its
    // own version with its buildId intact.
    val dir = Files.createTempDirectory("graft-race").toString
    import scala.concurrent._
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val futures = (0 until 16).map { i =>
      Future { gate.await(); Snapshots.commit(spark, dir, Seq(i), s"b$i") }
    }
    gate.countDown()
    val snaps = Await.result(Future.sequence(futures), 60.seconds)
    pool.shutdown()
    assert(snaps.map(_.version).distinct.size == 16, "version collision = clobber")
    // every committed file still carries the buildId that claimed its version
    snaps.foreach { s =>
      val onDisk = new IndexReader(spark, dir, atVersion = Some(s.version)).snapshot.get
      assert(onDisk.buildId == s.buildId, s"v${s.version} was clobbered")
    }
  }

  test("64-segment build: log-policy fixpoint compaction is (key,score)-identical, chained lineage") {
    // the write-path 100x-scale stress (r5 verdict #6): many segments ->
    // log-policy fixpoint, across TWO ingest waves so the second compaction
    // chains on the first's output (merge_depth 2). Driver memory stays
    // bounded by construction: the compaction loop sees only
    // liveSegmentStats (one row per live segment) — never doc data.
    val vocab = Vector("spark", "window", "merge", "table", "scan", "join", "filter", "query")
    def corpus(n: Int, seed: Int): Vector[(Long, String)] = {
      val rnd = new scala.util.Random(seed)
      Vector.tabulate(n)(i =>
        (i.toLong, Vector.fill(8 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    }
    def keyScores(s: Searcher, q: Query): Map[String, Double] =
      s.reader.docs
        .select(org.apache.spark.sql.functions.col("segment_id"),
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("key"))
        .join(s.search(q), Seq("segment_id", "doc_id"))
        .collect().map(r => r.getAs[String]("key") -> r.getAs[Double]("score")).toMap
    val dir = Files.createTempDirectory("graft-many-seg").toString
    val df = corpus(640, 11).toDF("doc_id", "text")
    IndexBuilder.build(spark, df, schema, dir, "b64",
      IndexBuilder.BuildConf(numSegments = 64))
    assert(Snapshots.latest(spark, dir).get.segments.size == 64)
    val s0 = new Searcher(new IndexReader(spark, dir), schema)
    val term = TermQuery("text", "spark")
    val phrase = PhraseQuery("text", Seq((0, "spark"), (1, "window")), 0)
    val termBefore = keyScores(s0, term)
    val phraseBefore = keyScores(s0, phrase)
    assert(termBefore.nonEmpty && phraseBefore.nonEmpty)

    // round 1: 64 equal-size segments share one log layer -> fixpoint
    val created1 = Maintenance.autoCompact(spark, dir, schema, "c64")
    assert(created1.nonEmpty)
    val live1 = Snapshots.latest(spark, dir).get.segments
    assert(live1.size < 8, s"compaction left ${live1.size} segments")
    val s1 = new Searcher(new IndexReader(spark, dir), schema)
    assert(keyScores(s1, term) == termBefore, "term (key,score) changed across compaction")
    assert(keyScores(s1, phrase) == phraseBefore, "phrase (key,score) changed across compaction")

    // second ingest wave (distinct keys, another 64 segments), compact again:
    // the new merge's parents include round 1's output -> merge_depth 2
    val df2 = corpus(640, 12).map { case (id, t) => (id + 100000L, t) }.toDF("doc_id", "text")
    Maintenance.addDocuments(spark, dir, schema, df2, "b64b",
      conf = IndexBuilder.BuildConf(numSegments = 64))
    val liveMid = Snapshots.latest(spark, dir).get.segments
    assert(liveMid.size == live1.size + 64)
    val sMid = new Searcher(new IndexReader(spark, dir), schema)
    val termMid = keyScores(sMid, term)
    val phraseMid = keyScores(sMid, phrase)
    val created2 = Maintenance.autoCompact(spark, dir, schema, "c64b")
    assert(created2.nonEmpty)
    val live2 = Snapshots.latest(spark, dir).get.segments
    assert(live2.size < 8)
    val s2 = new Searcher(new IndexReader(spark, dir), schema)
    val got2 = keyScores(s2, term)
    if (got2 != termMid) {
      // compact diagnostic: this is the assert that caught the path-recache
      // doc-id permutation bug in mergeSegments (see its localCheckpoint
      // comment) — if it ever fires again, start from the posting/doc norm
      // mismatch count, which distinguishes misalignment from stats drift
      val diffs = got2.keySet.intersect(termMid.keySet).filter(k => got2(k) != termMid(k))
      println(s"64seg diff: extra=${(got2.keySet -- termMid.keySet).size} " +
        s"missing=${(termMid.keySet -- got2.keySet).size} scoreDiffs=${diffs.size}")
    }
    assert(got2 == termMid, "term (key,score) changed across chained compaction")
    assert(keyScores(s2, phrase) == phraseMid, "phrase (key,score) changed across chained compaction")

    // lineage: some live segment reaches merge_depth >= 2 with round 1's
    // merged output among its parents
    val reader = new IndexReader(spark, dir)
    val latest = Maintenance.liveSegmentStats(spark, dir).map(_._1).toSet
    val rows = reader.metrics
      .filter(col("segment_id").isin(latest.toSeq.map(Integer.valueOf): _*))
      .orderBy(col("created_at").desc)
      .collect()
    val depths = rows.map(_.getAs[Int]("merge_depth"))
    assert(depths.max >= 2, s"expected chained merge_depth >= 2, got ${depths.toSeq}")
    val parents = rows.flatMap(r => r.getSeq[String](r.fieldIndex("parent_segments")).map(_.toInt)).toSet
    assert(created1.exists(parents.contains), "round 2 merge should chain on round 1's output")
  }
}
