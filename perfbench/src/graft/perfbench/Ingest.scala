package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.index.{IndexBuilder, IndexSchema, Maintenance}
import graft.index.Maintenance.ConflictStrategy
import graft.search._

/** Writes beside reads: a frozen bulk-loaded base, then cycles of an upsert
  * batch (some keys conflict), a delete-by-query and top-10 queries on a
  * fresh, unprimed reader; `autoCompact` at the end.
  */
object Ingest {
  val QueriesPerCycle = 3
  /** Cycles per run: an even number, so that cycles of three queries give
    * each serve shape equally often; two per 20 seconds.
    */
  def cycles(seconds: Double): Int = 2 * math.max(1, (seconds / 20).toInt)
  private val Conf = IndexBuilder.BuildConf(numSegments = 2)

  /** Open a reader the way a query after a write does: snapshot, field
    * stats and the tombstone probe.
    */
  def openReader(c: Ctx, idx: String): IndexReader = c.rec.span("maint.reader_open", "index") {
    val r = new IndexReader(c.spark, idx)
    r.snapshot
    r.fieldStats
    r.deletes
    r
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val schema = IndexSchema.pages
    val base = if (c.smoke) Build.SmokePages else Build.Pages
    val batch = base / 10
    val idx = c.dir("ingest-index")
    val corpus = c.dir("ingest-corpus")
    val setup = Build.writeCorpus(c, base, corpus)
    // the bulk load: timed builds of the base on all cores and on one core;
    // the last one is the base index
    val (dps, dps1) = Build.bulk(c, base, corpus, idx, Build.rounds(c.seconds / 2))
    val baseSegs = new IndexReader(spark, idx).snapshot.get.segments
    Maintenance.freezeSegments(spark, idx, baseSegs)
    // live key -> text, maintained independently of the index
    val live = mutable.HashMap[String, String]()
    (0L until base).foreach { i => live(Corpus.url(c.seed, i)) = Corpus.page(c.seed, i).text }
    c.phase("setup")
    val reqs = Corpus.requests(c.seed, base, 2000, stream = 2)
    c.info("queries_sha256") = Stats.sha(reqs.iterator.map(Corpus.render))
    val rng = new Corpus.Rng(c.seed ^ 0x1D6E57)
    val upserts, upsertRates, deletes, opens, cycleWalls = mutable.ArrayBuffer[Double]()
    val reqSpans = mutable.ArrayBuffer[(Long, String, Double, Double)]()
    var ingestedBytes = 0L
    var deletedDocs = 0L
    var newKeys = 0L
    var next = 0
    val nCycles = cycles(c.seconds)
    var k = 0
    while (k < nCycles) {
      val cs = System.nanoTime()
      // upsert: half the batch overwrites base keys with new content, half is new
      val conflicting = (0 until batch / 2).map(_ => rng.below(base).toLong).distinct
      val docs = conflicting.map(i => Corpus.page(c.seed + 1 + k, i).copy(url = Corpus.url(c.seed, i))) ++
        (0L until (batch - batch / 2)).map(j => Corpus.page(c.seed, base + newKeys + j))
      newKeys += batch - batch / 2
      ingestedBytes += docs.map(p => p.text.length.toLong + p.html.length).sum
      val df = spark.createDataFrame(docs)
      c.op(c.rec.span("maint.upsert", "index") {
        Stats.time(Maintenance.addDocuments(spark, idx, schema, df, s"upsert-$k", ConflictStrategy.Overwrite, Conf))._2
      }).foreach { t => upserts += t; upsertRates += docs.size / t }
      docs.foreach(p => live(p.url) = p.text)

      // delete-by-query on a torso term
      val term = Corpus.vocab(Corpus.HeadRanks * 2 + rng.below(Corpus.HeadRanks * 18))
      val before = new Searcher(openReader(c, idx), schema)
      c.op(c.rec.span("maint.delete", "index") {
        Stats.time(Maintenance.deleteDocs(spark, idx, before.search(TermQuery("text", term))))
      }).foreach { case (n, s) =>
        deletes += s
        val gone = live.collect { case (u, t) if t.split(' ').contains(term) => u }.toSeq
        gone.foreach(live.remove)
        deletedDocs += n
        c.check(s"ingest.delete_count.$k", s"deleted $n, expected ${gone.size}")(n == gone.size)
      }

      // queries on a fresh reader
      val (reader, openS) = Stats.time(openReader(c, idx))
      opens += openS
      val s = new Searcher(reader, schema)
      if (k == nCycles - 1)
        c.check("ingest.deleted_term_gone", s"'$term' matches after its delete")(s.search(TermQuery("text", term)).count() == 0)
      (0 until QueriesPerCycle).foreach { _ =>
        val r = reqs(next % reqs.size)
        val id = next.toLong
        next += 1
        val qt0 = c.rec.now()
        c.op(Serve.request(c, s, r, id)).foreach(_ => reqSpans += ((id, r.shape, qt0, c.rec.now())))
      }
      cycleWalls += (System.nanoTime() - cs) / 1e9
      k += 1
    }

    c.phase("cycles")
    c.check("ingest.deletes_nonempty", "no delete-by-query removed anything")(deletedDocs > 0)
    val endReader = openReader(c, idx)
    val liveSegments = endReader.snapshot.get.segments.size
    val tombstones = endReader.deletes.map(_.count()).getOrElse(0L)
    liveChecks(c, idx, live, "cycles")
    val compactT0 = c.rec.now()
    val (_, compactS) = Stats.time(c.op(c.rec.span("maint.compact", "index") {
      Maintenance.autoCompact(spark, idx, schema, "compact", minNumSegments = 4, conf = Conf)
    }))
    val compactT1 = c.rec.now()
    liveChecks(c, idx, live, "compacted")
    c.phase("compacted")

    c.info("sizes") = Map("base_pages" -> base, "batch" -> batch, "cycles" -> k,
      "queries_per_cycle" -> QueriesPerCycle, "cores" -> c.cores, "pinned_cores" -> 1, "loop" -> "closed, 1 client")
    val queries = reqSpans.map(r => (r._4 - r._3) / 1000.0).toSeq
    val (tailV, tailP) = Stats.tail(queries)
    c.e2e("setup_s") = (setup, "s")
    val p50 = Stats.shapeBalancedMedian(reqSpans.map(_._2).toSeq.zip(queries))
    c.e2e("p50_s") = (p50, "s")
    c.e2e("rate_per_s") = (dps, "1/s")
    c.e2e("serial_per_s") = (dps1, "1/s")
    c.metric("setup_s", setup, "s", "write the input corpus, median of 3")
    c.metric("ingest_upsert_p50_s", Stats.median(upserts.toSeq), "s", s"$batch docs per batch, n=${upserts.size}")
    c.metric("ingest_upsert_docs_per_s", Stats.median(upsertRates.toSeq), "docs/s", "median over batches")
    c.metric("ingest_delete_p50_s", Stats.median(deletes.toSeq), "s", s"n=${deletes.size}")
    c.metric("ingest_query_p50_s", p50, "s", s"fresh reader, median of the shape medians, n=${queries.size}")
    c.metric("ingest_query_tail_s", tailV, "s", if (tailP == 100) s"max of n=${queries.size}" else s"p$tailP of n=${queries.size}")
    c.metric("ingest_compact_s", compactS, "s", "autoCompact after the cycles")
    c.metric("ingest_cycles_per_s", k / cycleWalls.sum, "1/s", s"$k cycles")

    if (c.rec.on) {
      Layers.search(c, reqSpans.toSeq)
      c.layer("maint.reader_open_s") = Stats.median(opens.toSeq)
      Layers.maint(c, ingestedBytes, liveSegments, tombstones, compactT0, compactT1)
    }
  }

  /** Live docs equal the independently tracked key set; no key is live twice. */
  def liveChecks(c: Ctx, idx: String, live: mutable.HashMap[String, String], when: String): Unit = {
    val r = new IndexReader(c.spark, idx)
    val docs = r.applyDeletes(r.docs)
    val n = docs.count()
    c.check(s"ingest.live_count.$when", s"live $n, tracked ${live.size}")(n == live.size)
    val dups = docs.groupBy("key").count().filter(col("count") > 1).count()
    c.check(s"ingest.unique_keys.$when", s"$dups keys live twice")(dups == 0)
  }
}
