package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.OracleSql
import graft.index.{IndexBuilder, IndexSchema}
import graft.search._

/** Top-10 serving on a primed, tombstone-free index: closed loops with one
  * client and with four client threads, in alternating cycles.
  */
object Serve {
  val Pages = 3000
  val SmokePages = 2000
  /** Request ids of the many-client loop start here, apart from the one-client ids. */
  val C4Ids = 1000000L
  /** Untimed cycles before the measured ones; the checks before them warm
    * the search path too.
    */
  val WarmCycles = 1
  /** Fewest cycles the figures come from (see `quiet`). */
  val QuietCycles = 3
  /** Host steal under which a cycle counts as quiet; contended cycles on a
    * shared host show 15-50 %, for tens of seconds at a time.
    */
  val QuietSteal = 0.05

  /** All (field, term) pairs a resolved query scores (mirrors what the
    * searcher's own df probe collects).
    */
  def terms(q: Query): Seq[(String, String)] = (q match {
    case TermQuery(f, v)            => Seq((f, v))
    case PhraseQuery(f, ts, _)      => ts.map { case (_, t) => (f, t) }
    case BooleanQuery(cs, _)        => cs.flatMap { case (_, c) => terms(c) }
    case BoostQuery(c, _)           => terms(c)
    case DisjunctionMaxQuery(ds, _) => ds.flatMap(terms)
    case _                          => Nil
  }).distinct

  final case class Timed(req: Corpus.Req, reqId: Long, start: Double, end: Double) {
    def s: Double = (end - start) / 1000.0
  }

  /** One request. Traced, it is split into public calls, each a span, and
    * its Spark jobs carry the request's job group.
    */
  def request(c: Ctx, s: Searcher, r: Corpus.Req, reqId: Long): Array[Row] = {
    if (!c.rec.on) s.topDocs(r.query, 10).collect()
    else {
      val sc = c.spark.sparkContext
      sc.setJobGroup(s"req-$reqId", r.shape, interruptOnCancel = false)
      try c.rec.span("request", "search", reqId, Map("shape" -> r.shape)) {
        val rq = c.rec.span("search.resolve", "search", reqId)(s.resolve(r.query))
        c.rec.span("search.termdfs", "search", reqId)(s.reader.termDfs(terms(rq)))
        val wand = WandTopK.eligible(rq).isDefined && s.reader.deletes.isEmpty
        val df = c.rec.span("search.plan", "search", reqId, Map("wand" -> wand))(s.topDocs(r.query, 10))
        c.rec.span("search.exec", "search", reqId)(df.collect())
      } finally sc.clearJobGroup()
    }
  }

  /** A stretch of measured requests, its wall time and host steal: the share
    * of the machine's CPU time that the hypervisor gave to other guests
    * while this one's CPUs were runnable (0 where /proc/stat is missing).
    */
  final case class Slice(wall: Double, steal: Double, done: Seq[Timed]) {
    def rate: Double = done.size / wall
  }

  def slice(f: => Seq[Timed]): Slice = {
    val s0 = Stats.cpuSteal()
    val (done, wall) = Stats.time(f)
    val steal = Stats.cpuSteal().zip(s0).map { case ((t1, st1), (t0, st0)) =>
      (st1 - st0).toDouble / math.max(1L, t1 - t0)
    }.getOrElse(0.0)
    Slice(wall, steal, done)
  }

  /** One measured cycle: a slice of the one-client loop, then one of the
    * many-client loop.
    */
  final case class Cycle(one: Slice, many: Slice) {
    def steal: Double = one.steal.max(many.steal)
  }

  /** The cycles the figures come from: every quiet one (host steal under
    * `QuietSteal`), or the `QuietCycles` with least steal if fewer were
    * quiet. Steal comes from other guests, never from this program, and on a
    * shared host it slows every request it touches by far more than its
    * share (a quarter of the CPU stolen doubles the latency).
    */
  def quiet(xs: Seq[Cycle]): Seq[Cycle] = {
    val calm = xs.filter(_.steal < QuietSteal)
    if (calm.size >= QuietCycles) calm else xs.sortBy(_.steal).take(QuietCycles)
  }

  def timed(c: Ctx, s: Searcher, r: Corpus.Req, reqId: Long): Option[Timed] = {
    val t0 = c.rec.now()
    c.op(request(c, s, r, reqId)).map(_ => Timed(r, reqId, t0, c.rec.now()))
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val n = if (c.smoke) SmokePages else Pages
    c.phase("start")
    val corpus = Corpus.write(spark, c.seed, 0, n, c.dir("serve-corpus"))
    c.phase("corpus")
    val idx = c.dir("serve-index")
    c.rec.span("index.build", "index") {
      IndexBuilder.build(spark, spark.read.parquet(corpus), IndexSchema.pages, idx, s"serve-${c.seed}")
    }
    c.phase("index")
    val reqs = Corpus.requests(c.seed, n, 4000)
    c.info("sizes") = Map("pages" -> n, "requests_generated" -> reqs.size, "k" -> 10,
      "clients" -> Seq(1, c.cores), "loop" -> "closed")
    c.info("corpus_sha256") = Stats.sha((0L until n).iterator.map(i => Corpus.page(c.seed, i).text))
    c.info("queries_sha256") = Stats.sha(reqs.iterator.map(Corpus.render))

    // set-up: open a reader and prime it into the block-manager cache, three times
    var reader: IndexReader = null
    val setups = (0 until 3).map { _ =>
      if (reader != null) Reflection.unprime(reader)
      Stats.time {
        c.rec.span("setup.open_prime", "search") {
          reader = new IndexReader(spark, idx)
          Reflection.prime(reader)
        }
      }._2
    }
    c.phase("setup")
    val searcher = new Searcher(reader, IndexSchema.pages)
    val cacheMb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

    // the checks run first: they also warm the search path
    checks(c, searcher, n, corpus)
    c.phase("checked")

    // One cycle: one client runs two rounds of the six shapes, then `cores`
    // client threads share two rounds; both closed loops. Each loop draws
    // its own stretch of the request list.
    val round = Corpus.Shapes.size
    var i1 = 0
    var i4 = reqs.size / 2
    def cycle(): Cycle = {
      val one = slice {
        (0 until 2 * round).flatMap { _ =>
          val t = timed(c, searcher, reqs(i1 % reqs.size), i1.toLong)
          i1 += 1
          t
        }
      }
      val from = i4
      i4 += 2 * round
      val many = slice {
        val claimed = new AtomicInteger(0)
        val done = new java.util.concurrent.ConcurrentLinkedQueue[Timed]()
        val threads = (0 until c.cores).map { _ =>
          val t = new Thread(() => {
            var j = claimed.getAndIncrement()
            while (j < 2 * round) {
              val i = from + j
              timed(c, searcher, reqs(i % reqs.size), C4Ids + i).foreach(done.add)
              j = claimed.getAndIncrement()
            }
          })
          t.start(); t
        }
        threads.foreach(_.join())
        done.toArray(Array.empty[Timed]).toSeq
      }
      Cycle(one, many)
    }

    // warm-up, untimed: a fixed number of cycles rather than a time, so that
    // the JIT has seen the same work when timing starts however busy the host is
    (0 until WarmCycles).foreach(_ => cycle())
    c.phase("warm")
    // measured: cycles until `seconds` have passed, so that both loops
    // sample the whole window; then on, for up to `seconds` more, until
    // `QuietCycles` cycles were quiet
    val cycles = mutable.ArrayBuffer[Cycle]()
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    while (cycles.size < QuietCycles || elapsed < c.seconds ||
        (cycles.count(_.steal < QuietSteal) < QuietCycles && elapsed < 2 * c.seconds)) cycles += cycle()
    c.phase("measured")
    // (steal, requests/s) of both loops in every cycle, for the result file
    c.info("cycles") = cycles.map(y => Seq(y.one.steal, y.one.rate, y.many.steal, y.many.rate)).toSeq

    val chosen = quiet(cycles.toSeq)
    val q1 = chosen.map(_.one)
    val p50 = Stats.shapeBalancedMedian(q1.flatMap(_.done).map(t => (t.req.shape, t.s)))
    val qps1 = Stats.median(q1.map(_.rate))
    val qps4 = Stats.median(chosen.map(_.many.rate))
    val all1 = cycles.toSeq.flatMap(_.one.done)
    val lat = all1.map(_.s)
    val (tailV, tailP) = Stats.tail(lat)
    def stealPct(xs: Seq[Cycle]) = 100 * Stats.mean(xs.map(_.steal))
    val of = f"${chosen.size} of ${cycles.size} cycles, steal ${stealPct(chosen)}%.1f %% (all: ${stealPct(cycles.toSeq)}%.1f %%)"
    c.e2e("setup_s") = (Stats.median(setups), "s")
    c.e2e("p50_s") = (p50, "s")
    c.e2e("rate_per_s") = (qps4, "1/s")
    c.e2e("serial_per_s") = (qps1, "1/s")
    c.metric("setup_s", Stats.median(setups), "s", "open IndexReader + Reflection.prime, median of 3")
    c.metric("serve_p50_s", p50, "s", s"1 client, median of the six shape medians, n=${q1.map(_.done.size).sum}, $of")
    c.metric("serve_p50_all_s", Stats.shapeBalancedMedian(all1.map(t => (t.req.shape, t.s))), "s",
      s"as serve_p50_s over every cycle, n=${lat.size}")
    c.metric("serve_tail_s", tailV, "s", s"p$tailP of n=${lat.size}, 1 client, every cycle")
    c.metric("serve_qps_c4", qps4, "req/s", s"${c.cores} clients, ${2 * round} requests a slice, median of $of")
    c.metric("serve_qps_c1", qps1, "req/s", s"1 client, ${2 * round} requests a slice, median of $of")
    c.metric("serve_cache_mb", cacheMb, "MB", "block-manager storage after prime")
    Corpus.Shapes.foreach { sh =>
      val xs = all1.filter(_.req.shape == sh).map(_.s)
      if (xs.nonEmpty) c.metric(s"serve_${sh}_p50_s", Stats.median(xs), "s", s"n=${xs.size}, every cycle")
    }

    if (c.rec.on) Layers.search(c, all1.map(t => (t.reqId, t.req.shape, t.start, t.end)))
  }

  /** Exhaustive-plan identity on a seeded sample of every shape, and BM25
    * recomputed from the raw corpus (DuckDB, `OracleSql` arithmetic) for
    * sampled term and bool requests.
    */
  def checks(c: Ctx, s: Searcher, n: Int, corpus: String): Unit = {
    val sample = Corpus.requests(c.seed, n, 240, stream = 1)
    val perShape = if (c.smoke) 2 else 1
    Corpus.Shapes.foreach { sh =>
      sample.filter(_.shape == sh).take(perShape).foreach { r => exhaustive(c, s, r) }
    }
    // oracle: requests whose terms are all indexed, so the sets are not empty
    def indexed(r: Corpus.Req) = r.terms.forall(Corpus.rankOf.contains) &&
      r.terms.forall(t => Corpus.rankOf(t) < Corpus.TorsoRanks)
    val oracleReqs = Seq("term", "bool").flatMap(sh => sample.filter(r => r.shape == sh && indexed(r)).take(perShape))
    oracleReqs.foreach { r =>
      val rows = s.reader.docs.select("segment_id", "doc_id", "key")
        .join(s.search(r.query), Seq("segment_id", "doc_id"))
        .select(col("key"), round(col("score"), 4))
        .collect()
        .map(row => Seq(Corpus.rowId(row.getString(0)), row.getDouble(1)))
        .sortBy(_.head.asInstanceOf[Long])
      c.oracle += Map("name" -> s"serve.bm25.${r.shape}.${r.id}", "sql" -> oracleSql(r), "rows" -> rows.toSeq,
        "corpus" -> corpus)
    }
  }

  def exhaustive(c: Ctx, s: Searcher, r: Corpus.Req): Unit = {
    def key(rows: Array[Row]) = rows.map(x => (x.getAs[Int]("segment_id"), x.getAs[Int]("doc_id"))).toSeq
    def scores(rows: Array[Row]) = rows.map(_.getAs[Double]("score")).toSeq
    val got = s.topDocs(r.query, 10).collect()
    val want = s.search(s.resolve(r.query))
      .orderBy(col("score").desc, col("segment_id").asc, col("doc_id").asc).limit(10).collect()
    c.check(s"serve.exhaustive.${r.shape}.${r.id}",
      s"${r.query}: got ${key(got).take(3)}… want ${key(want).take(3)}…") {
      key(got) == key(want) &&
        scores(got).zip(scores(want)).forall { case (a, b) => math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)) }
    }
    if (r.shape == "phrase")
      c.check(s"serve.nonempty.phrase.${r.id}", s"${r.query} matched nothing")(got.nonEmpty)
  }

  /** DuckDB SQL over a `documents(doc_id, text)` view of the raw corpus. */
  def oracleSql(r: Corpus.Req): String = r.query match {
    case TermQuery(_, t) => OracleSql.termQuery(t)
    case BooleanQuery(Seq((Occur.Must, TermQuery(_, a)), (Occur.Should, TermQuery(_, b))), _) =>
      OracleSql.prologue + OracleSql.termScoreCte(a, "a") + OracleSql.termScoreCte(b, "b") +
        """
          |SELECT a.doc_id, round(a.score + coalesce(b.score, 0), 4) AS score
          |FROM sc_a a LEFT JOIN sc_b b ON a.doc_id = b.doc_id
          |ORDER BY a.doc_id""".stripMargin
    case q => sys.error(s"no oracle for $q")
  }
}
