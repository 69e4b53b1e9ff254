package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.{IndexBuilder, IndexSchema}
import graft.search.IndexReader

/** Bulk `IndexBuilder.build` of the corpus on all cores, then with the
  * same warmed JVM pinned to one core (N = 1 against 4N = 4). The pinned
  * builds keep `local[4]`: its task threads time-share the one core.
  */
object Build {
  val Pages = 1000
  val SmokePages = 500

  /** Full-core builds per run: one per five seconds, at least three. */
  def rounds(seconds: Double): Int = math.max(3, (seconds / 5).toInt)

  def buildOnce(spark: SparkSession, corpus: String, out: String, id: String): Double = {
    deleteTree(out)
    Stats.time(IndexBuilder.build(spark, spark.read.parquet(corpus), IndexSchema.pages, out, id))._2
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).forEach(Files.delete(_))
      finally st.close()
    }
  }

  /** Set-up shared with `ingest`: generate and write the input corpus,
    * three times (same bytes). Returns the median write seconds.
    */
  def writeCorpus(c: Ctx, n: Int, corpus: String): Double = {
    c.phase("start")
    val setups = (0 until 3).map(_ => Stats.time(Corpus.write(c.spark, c.seed, 0, n, corpus))._2)
    c.info("corpus_sha256") = Stats.sha((0L until n).iterator.map(i => Corpus.page(c.seed, i).text))
    c.phase("corpus")
    Stats.median(setups)
  }

  /** Untimed warm-up builds (the JIT keeps speeding builds up through the
    * first few), then `rounds` full-core builds with a one-core build
    * between each two, so machine noise falls on both alike. The one-core
    * builds rotate over the cores. Leaves the last build at `out`. Returns
    * (docs/s on all cores, docs/s on one core).
    */
  def bulk(c: Ctx, n: Int, corpus: String, out: String, rounds: Int): (Double, Double) = {
    val spark = c.spark
    (0 until (if (c.smoke) 1 else 2)).foreach(i => buildOnce(spark, corpus, out, s"warm-up-$i"))
    c.phase("warm")
    val t4, t1 = Vector.newBuilder[Double]
    (0 until rounds).foreach { k =>
      if (k > 0)
        t1 += pinned(c, c.cores - k % c.cores)(c.rec.span("index.build_1c", "index")(buildOnce(spark, corpus, out, s"p$k")))
      t4 += c.rec.span("index.build", "index")(buildOnce(spark, corpus, out, s"b$k"))
    }
    c.phase("built")
    val (t4s, t1s) = (t4.result(), t1.result())
    val inputBytes = (0L until n).iterator.map(Corpus.page(c.seed, _)).map(p => p.text.length.toLong + p.html.length).sum
    val idxBytes = Seq("postings", "docs", "termstats").map(t => t -> Stats.dirBytes(s"$out/$t")).toMap
    val totalIdx = Stats.dirBytes(out)
    val (dps, dps1) = (n / Stats.median(t4s), n / Stats.median(t1s))
    c.info("build_s") = Map("cores" -> t4s, "one_core" -> t1s, "input_bytes" -> inputBytes)
    c.metric("build_docs_per_s", dps, "docs/s", s"${c.cores} cores, median of ${t4s.size} builds of $n pages")
    c.metric("build_docs_per_s_1c", dps1, "docs/s", s"pinned to 1 core, median of ${t1s.size} builds")
    c.metric("index_bytes_per_input_byte", totalIdx.toDouble / inputBytes, "ratio",
      s"$totalIdx index bytes / $inputBytes html+text bytes")
    c.metric("scaling_efficiency", dps / dps1 / c.cores, "ratio", s"derived: (4c / 1c) / ${c.cores}")
    if (c.rec.on)
      Layers.build(c, idxBytes, (0L until n.min(2000)).map(Corpus.page(c.seed, _).text))
    checks(c, out, corpus, n)
    (dps, dps1)
  }

  /** Standalone build-only run (not listed in BENCHMARK.json: `ingest` measures
    * the same bulk load), for longer build A/B runs.
    */
  def run(c: Ctx): Unit = {
    val n = if (c.smoke) SmokePages else Pages
    val corpus = c.dir("build-corpus")
    val setup = writeCorpus(c, n, corpus)
    c.info("sizes") = Map("pages" -> n, "cores" -> c.cores, "pinned_cores" -> 1)
    val (dps, dps1) = bulk(c, n, corpus, c.dir("build-index"), rounds(c.seconds))
    c.e2e("setup_s") = (setup, "s")
    c.e2e("p50_s") = (n / dps, "s")
    c.e2e("rate_per_s") = (dps, "1/s")
    c.e2e("serial_per_s") = (dps1, "1/s")
    c.metric("setup_s", setup, "s", "write the input corpus, median of 3")
  }

  /** Docs count equals the input count; sampled dfs equal a direct count
    * over the corpus text.
    */
  def checks(c: Ctx, out: String, corpus: String, n: Int): Unit = {
    val reader = new IndexReader(c.spark, out)
    val docs = reader.docs.count()
    c.check("build.docs_count", s"index docs $docs, input $n")(docs == n)
    val rng = new Corpus.Rng(c.seed ^ 0xDF)
    val sample = Seq(rng.below(Corpus.HeadRanks), rng.below(Corpus.HeadRanks),
      Corpus.HeadRanks + rng.below(Corpus.TorsoRanks - Corpus.HeadRanks),
      Corpus.HeadRanks + rng.below(Corpus.TorsoRanks - Corpus.HeadRanks),
      Corpus.TorsoRanks + rng.below(Corpus.VocabSize - Corpus.TorsoRanks)).map(Corpus.vocab(_))
    val dfs = reader.termDfs(sample.map(t => ("text", t)))
    val words = c.spark.read.parquet(corpus).select(explode(array_distinct(split(col("text"), " "))).as("w"))
    val direct = words.filter(col("w").isin(sample: _*)).groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sample.foreach { t =>
      val (got, want) = (dfs.getOrElse(("text", t), 0L), direct.getOrElse(t, 0L))
      c.check(s"build.df.$t", s"df($t): index $got, corpus $want")(got == want)
    }
    c.check("build.df.nonempty", "a head-term df is non-zero")(sample.take(2).exists(t => direct.getOrElse(t, 0L) > 0))
  }

  /** Run `f` with every thread of this JVM pinned to `core` by `taskset`,
    * then restore the previous affinity.
    */
  def pinned[A](c: Ctx, core: Int)(f: => A): A = {
    val pid = ProcessHandle.current().pid().toString
    // `-a` walks every thread; one that exits meanwhile makes taskset report
    // an error, so success is judged by the mask it reads back
    def taskset(args: String*): String = {
      val p = new ProcessBuilder(("taskset" +: args): _*).redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
      p.waitFor()
      out
    }
    def mask(): String = taskset("-p", pid).trim.split(' ').last
    val before = mask()
    taskset("-a", "-p", "-c", core.toString, pid)
    require(mask() == java.lang.Long.toHexString(1L << core), s"could not pin to core $core")
    try f
    finally { taskset("-a", "-p", before, pid); () }
  }
}
