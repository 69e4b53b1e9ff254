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

  /** Each sampled term's df, from `termDfs` and from the `termStatsDf` view
    * summed over segments, against the corpus side: the count of `texts`
    * (every doc in the live segments, tombstoned ones included until a
    * merge removes them) that contain the term. Absent terms have no entry.
    */
  private def assertDfsMatchCorpus(dir: String, terms: Seq[String], texts: Seq[String]): Unit = {
    val want = terms.map(t => t -> texts.count(_.split(' ').contains(t)).toLong).filter(_._2 > 0).toMap
    assert(want.nonEmpty)
    val r = new IndexReader(spark, dir)
    assert(r.termDfs(terms.map(("text", _))).map { case ((_, t), n) => t -> n } == want)
    val view = r.termStatsDf.filter(col("field") === "text" && col("term").isin(terms: _*))
      .groupBy("term").agg(sum("df").cast("long"))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(view == want)
  }

  test("df: termDfs and termStatsDf equal corpus doc counts until a merge") {
    val dir = Files.createTempDirectory("graft-dfid").toString
    val sample = vocab :+ "nosuchterm"
    val conf = IndexBuilder.BuildConf(numSegments = 3, blockBits = 4)
    val built = corpus(200, 11)
    IndexBuilder.build(spark, built.toDF("doc_id", "text"), schema, dir, "b0", conf)
    assertDfsMatchCorpus(dir, sample, built.map(_._2))

    // an upsert that replaces keys 150..199 and adds 200..259: the replaced
    // docs are tombstoned, so both versions count
    val batch = corpus(260, 12).drop(150)
    Maintenance.addDocuments(spark, dir, schema, batch.toDF("doc_id", "text"), "up1",
      Maintenance.ConflictStrategy.Overwrite, conf.copy(numSegments = 1))
    assertDfsMatchCorpus(dir, sample, (built ++ batch).map(_._2))

    // deleting 20 live docs that contain "window" leaves every df as it was
    val s1 = new Searcher(new IndexReader(spark, dir), schema)
    val victims = s1.reader.docs
      .join(s1.search(TermQuery("text", "window")).limit(20), Seq("segment_id", "doc_id"))
      .select("segment_id", "doc_id", "key").collect()
    assert(Maintenance.deleteDocs(spark, dir,
      victims.map(v => (v.getInt(0), v.getInt(1))).toSeq.toDF("segment_id", "doc_id")) == 20)
    assert(new IndexReader(spark, dir).tombstones.nonEmpty)
    assertDfsMatchCorpus(dir, sample, (built ++ batch).map(_._2))

    // a merge of every segment drops the tombstoned docs: only live keys count
    Maintenance.mergeSegments(spark, dir, schema, Snapshots.latest(spark, dir).get.segments, "m1", conf)
    assert(Snapshots.latest(spark, dir).get.segments.size == 1)
    val deleted = victims.map(_.getString(2).toLong).toSet
    val live = (built.take(150) ++ batch).filterNot(d => deleted.contains(d._1))
    assertDfsMatchCorpus(dir, sample, live.map(_._2))
  }

  test("merge re-blocks postings exactly as the per-occurrence oracle: small blocks, tombstones, three record kinds") {
    // blockBits 4 (16-doc blocks) over 5 segments of ~60 docs: every old
    // block straddles new blocks, and fragments from different old
    // segments interleave inside each new block
    val dir = Files.createTempDirectory("graft-merge-oracle").toString
    val schema3 = IndexSchema("doc_id", Seq(
      FieldDef("text", "summa", "position"),
      FieldDef("title", "summa", "freq"),
      FieldDef("tag", "raw", "basic")), Seq("text"))
    val conf = IndexBuilder.BuildConf(numSegments = 5, blockBits = 4)
    val rnd = new scala.util.Random(21)
    val df = corpus(300, 21).map { case (id, text) =>
      (id, text, Vector.fill(1 + rnd.nextInt(4))(vocab(rnd.nextInt(vocab.size))).mkString(" "),
        s"tag${rnd.nextInt(5)}")
    }.toDF("doc_id", "text", "title", "tag")
    IndexBuilder.build(spark, df, schema3, dir, "b0", conf)
    val r0 = new IndexReader(spark, dir)
    assert(Maintenance.deleteDocs(spark, dir,
      r0.docs.filter(pmod(xxhash64(col("key")), lit(3)) === 0)) > 60)

    val r1 = new IndexReader(spark, dir)
    val segs = r1.snapshot.get.segments.sorted.take(4)
    val oldLive = MergeCheck.liveDocs(r1, segs)
    val newSeg = Maintenance.mergeSegments(spark, dir, schema3, segs, "m1", conf)
    MergeCheck.assertMatchesOracle(spark, dir, schema3, segs, newSeg, oldLive, conf.blockBits)
  }

  test("merge with duplicate keys: each doc's postings agree with its docs row; counts unchanged") {
    // keys 0..29 twice inside the build (same key → same segment), and keys
    // 20..59 again across segments through a DoNothing upsert: the merged
    // key order ties duplicates arbitrarily, so old → new doc ids need not
    // be monotone inside one old segment
    val dir = Files.createTempDirectory("graft-merge-dupkeys").toString
    val conf = IndexBuilder.BuildConf(numSegments = 3, blockBits = 4)
    val first = corpus(130, 31).map { case (i, t) => (i % 100, t) }
    IndexBuilder.build(spark, first.toDF("doc_id", "text"), schema, dir, "b0", conf)
    val upsert = corpus(40, 32).map { case (i, t) => (i + 20, t) }
    Maintenance.addDocuments(spark, dir, schema, upsert.toDF("doc_id", "text"), "up1",
      Maintenance.ConflictStrategy.DoNothing, conf.copy(numSegments = 1))

    val phrases = Seq(("spark", "window"), ("merge", "table"), ("query", "filter"))
    def counts(): Seq[Long] = {
      val s = new Searcher(new IndexReader(spark, dir), schema)
      vocab.map(t => s.count(TermQuery("text", t))) ++
        phrases.map { case (a, b) => s.count(PhraseQuery("text", Seq((0, a), (1, b)), 0)) }
    }
    val before = counts()
    assert(before.sum > 0)
    val newSeg = Maintenance.mergeSegments(spark, dir, schema,
      Snapshots.latest(spark, dir).get.segments, "m1", conf)
    assert(counts() == before)

    val sumTf = scala.collection.mutable.HashMap[Int, Int]().withDefaultValue(0)
    val normOf = scala.collection.mutable.HashMap[Int, Int]()
    spark.read.parquet(s"$dir/postings")
      .filter(col("segment_id") === newSeg && col("field") === "text")
      .select("doc_count", "doc_ids", "tfs", "norms").collect().foreach { r =>
        val n = r.getInt(0)
        val docs = PostingCodec.unpackDocIds(r.getAs[Array[Byte]](1), n)
        val tfs = PostingCodec.unpackVarInts(r.getAs[Array[Byte]](2), n)
        val norms = r.getAs[Array[Byte]](3)
        docs.indices.foreach { i =>
          sumTf(docs(i)) += tfs(i)
          val prev = normOf.put(docs(i), norms(i) & 0xFF)
          assert(prev.forall(_ == (norms(i) & 0xFF)), s"doc ${docs(i)}: two norm bytes")
        }
      }
    val docRows = spark.read.parquet(s"$dir/docs").filter(col("segment_id") === newSeg)
      .select("doc_id", "len_text", "norm_text").collect()
    assert(docRows.length == 130 + 40)
    docRows.foreach { r =>
      val d = r.getInt(0)
      assert(sumTf(d) == r.getInt(1), s"doc $d: Σ tf ${sumTf(d)} != len_text ${r.getInt(1)}")
      assert(normOf.get(d).contains(r.getInt(2)), s"doc $d: norm ${normOf.get(d)} != ${r.getInt(2)}")
    }
  }

  test("merging fully tombstoned segments publishes an empty live segment") {
    val dir = Files.createTempDirectory("graft-merge-empty").toString
    val conf = IndexBuilder.BuildConf(numSegments = 3)
    IndexBuilder.build(spark, corpus(90, 41).toDF("doc_id", "text"), schema, dir, "b0", conf)
    val r0 = new IndexReader(spark, dir)
    val segs = r0.snapshot.get.segments.sorted
    val gone = segs.take(2)
    val keptDocs = r0.docs.filter(col("segment_id") === segs(2)).count()
    Maintenance.deleteDocs(spark, dir,
      r0.docs.filter(col("segment_id").isin(gone.map(Integer.valueOf): _*)))

    val oldLive = MergeCheck.liveDocs(new IndexReader(spark, dir), gone)
    val newSeg = Maintenance.mergeSegments(spark, dir, schema, gone, "m1", conf)
    assert(Snapshots.latest(spark, dir).get.segments.sorted == Seq(segs(2), newSeg))
    MergeCheck.assertMatchesOracle(spark, dir, schema, gone, newSeg, oldLive, conf.blockBits)
    // zero tokens: a null total (the sum over no docs) reads as 0
    val fs = spark.read.parquet(s"$dir/fieldstats").filter(col("segment_id") === newSeg)
      .select(col("field"), col("n_docs"), coalesce(col("total_tokens"), lit(0L))).collect()
    assert(fs.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq == Seq(("text", 0L, 0L)))
    val m = new IndexReader(spark, dir).metrics.filter(col("segment_id") === newSeg).collect()
    assert(m.length == 1)
    assert(m.head.getAs[Long]("num_docs") == 0L && m.head.getAs[Long]("num_terms") == 0L &&
      m.head.getAs[Long]("posting_bytes") == 0L && m.head.getAs[Int]("merge_depth") == 1)
    assert(Maintenance.liveSegmentStats(spark, dir).map(t => (t._1, t._2)).toMap
      .get(newSeg).contains(0L))

    val s = new Searcher(new IndexReader(spark, dir), schema)
    assert(s.search(AllQuery).filter(col("segment_id") === newSeg).count() == 0)
    assert(s.search(TermQuery("text", "spark")).filter(col("segment_id") === newSeg).count() == 0)
    assert(s.count(AllQuery) == keptDocs)
    val sparkDocs = s.count(TermQuery("text", "spark"))

    // the empty segment stays an ordinary merge candidate
    val created = Maintenance.autoCompact(spark, dir, schema, "c", minNumSegments = 2, conf)
    assert(created.size == 1)
    assert(Snapshots.latest(spark, dir).get.segments == created)
    val s2 = new Searcher(new IndexReader(spark, dir), schema)
    assert(s2.count(AllQuery) == keptDocs && s2.count(TermQuery("text", "spark")) == sparkDocs)
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

  test("deleteDocs adds one tombstone file per segment it touches") {
    val dir = Files.createTempDirectory("graft-del-files").toString
    IndexBuilder.build(spark, corpus(200, 9).toDF("doc_id", "text"), schema, dir, "b0",
      IndexBuilder.BuildConf(numSegments = 4))
    val segs = Snapshots.latest(spark, dir).get.segments.sorted
    def files(): Int = IndexDigest.files(spark, dir, "deletes")
    val docs = new IndexReader(spark, dir).docs.select("segment_id", "doc_id")
    def hits(ss: Seq[Int], rem: Int) =
      docs.filter(col("segment_id").isin(ss.map(Integer.valueOf): _*) && col("doc_id") % 3 === rem)
    // three segments, each hit twice; then two, one of them touched before
    val first = hits(segs.take(3), 0)
    val second = hits(segs.drop(2), 1)
    assert(Maintenance.deleteDocs(spark, dir, first.union(first)) == first.count())
    assert(files() == 3)
    assert(Maintenance.deleteDocs(spark, dir, second) == second.count())
    assert(files() == 5)
    val want = first.union(second).collect().groupBy(_.getInt(0)).map { case (seg, rs) =>
      val b = new java.util.BitSet
      rs.foreach(r => b.set(r.getInt(1)))
      seg -> b
    }
    assert(want.size == 4 && new IndexReader(spark, dir).tombstones == want)
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
    MergeCheck.assertCompactionMatchesOracle(spark, dir, schema, created1)
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
    MergeCheck.assertCompactionMatchesOracle(spark, dir, schema, created2)
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

/** Checks a merged segment against [[MergeOracle]], the per-occurrence
  * merge path: its `postings` rows (every column, binaries as hex), its
  * metrics row against those rows and its `fieldstats` rows against sums
  * over the merged docs. Keys must be unique among the merged live docs,
  * since the oracle's `(old_seg, old_doc) → new_doc` mapping is a join on
  * key.
  */
private object MergeCheck {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.scalatest.Assertions._

  /** Segment `seg`'s one metrics row, whose counts the postings write
    * observed, against `blocks`, the posting rows expected for it:
    * `num_terms` is their distinct `(field, term)` count and `posting_bytes`
    * their summed `posting_bytes` (0 and 0 for no blocks).
    */
  def assertMetricsMatch(spark: SparkSession, dir: String, seg: Int, blocks: DataFrame): Unit = {
    val m = spark.read.parquet(s"$dir/metrics").filter(col("segment_id") === seg)
      .select("num_terms", "posting_bytes").collect()
    assert(m.length == 1, s"segment $seg: ${m.length} metrics rows")
    val want = blocks.agg(countDistinct("field", "term"), coalesce(sum("posting_bytes"), lit(0L))).head()
    assert((m.head.getLong(0), m.head.getLong(1)) == (want.getLong(0), want.getLong(1)),
      s"segment $seg metrics (num_terms, posting_bytes)")
  }

  /** `(old_seg, old_doc, key)` of the given segments' live docs, collected
    * (tombstones of merged segments are cleared by the merge).
    */
  def liveDocs(r: graft.search.IndexReader, segs: Seq[Int]): DataFrame = {
    val spark = r.spark
    import spark.implicits._
    r.applyDeletes(r.docs.filter(col("segment_id").isin(segs.map(Integer.valueOf): _*)))
      .select(col("segment_id"), col("doc_id"), col("key")).as[(Int, Int, String)]
      .collect().toSeq.toDF("old_seg", "old_doc", "key")
  }

  private def hexRows(df: DataFrame): Seq[String] =
    IndexDigest.rowJson(df, binary = hex).collect().map(_.getString(0)).toSeq.sorted

  def assertMatchesOracle(
      spark: SparkSession,
      dir: String,
      schema: IndexSchema,
      oldSegs: Seq[Int],
      newSeg: Int,
      oldLive: DataFrame,
      blockBits: Int
  ): Unit = {
    val newDocs = spark.read.parquet(s"$dir/docs").filter(col("segment_id") === newSeg)
    val mapping = oldLive.join(newDocs.select(col("key"), col("doc_id").as("new_doc")), "key")
      .select("old_seg", "old_doc", "new_doc")
    val nDocs = newDocs.count()
    assert(mapping.count() == nDocs, "merged keys must map one to one")
    val postings = spark.read.parquet(s"$dir/postings")
    val expected = MergeOracle.postings(
      postings.filter(col("segment_id").isin(oldSegs.map(Integer.valueOf): _*)),
      mapping, schema, newSeg, blockBits, 4)
    val actual = postings.filter(col("segment_id") === newSeg)
    val (e, a) = (hexRows(expected), hexRows(actual))
    assert(e.nonEmpty || nDocs == 0)
    assert(a == e, s"segment $newSeg postings differ from the oracle: " +
      s"${a.diff(e).take(3)} not expected, ${e.diff(a).take(3)} missing")

    assertMetricsMatch(spark, dir, newSeg, expected)
    val fieldstats = schema.fields.map(f => newDocs.agg(
      lit(f.name).as("field"), count(lit(1)).as("n_docs"),
      coalesce(sum(col(s"len_${f.name}")).cast("long"), lit(0L)).as("total_tokens"),
      lit(blockBits).as("block_bits"),
      // a merge writes one segment over all its reduce partitions
      lit(0).as("bucket_lo"), lit(IndexBuilder.BuildConf().partitions(spark)).as("bucket_width"),
      lit(newSeg).as("segment_id"))).reduce(_ unionByName _)
    assert(IndexDigest(spark.read.parquet(s"$dir/fieldstats").filter(col("segment_id") === newSeg)) ==
      IndexDigest(fieldstats), s"segment $newSeg fieldstats")
  }

  /** [[assertMatchesOracle]] for every segment one compaction created, with
    * parents from its metrics row and their docs read from disk (no
    * tombstones: every parent doc was live at merge time).
    */
  def assertCompactionMatchesOracle(
      spark: SparkSession, dir: String, schema: IndexSchema, created: Seq[Int]): Unit = {
    val docs = spark.read.parquet(s"$dir/docs")
    created.foreach { seg =>
      val m = spark.read.parquet(s"$dir/metrics").filter(col("segment_id") === seg).collect()
      assert(m.length == 1)
      val parents = m.head.getSeq[String](m.head.fieldIndex("parent_segments")).map(_.toInt)
      val oldLive = docs.filter(col("segment_id").isin(parents.map(Integer.valueOf): _*))
        .select(col("segment_id").as("old_seg"), col("doc_id").as("old_doc"), col("key"))
      assertMatchesOracle(spark, dir, schema, parents, seg, oldLive,
        IndexBuilder.BuildConf().blockBits)
    }
  }
}
