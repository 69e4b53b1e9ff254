package graft.perfbench

import graft.index.IndexBuilder

/** Per-layer metrics of a traced run, from the recorder's spans and the
  * Spark listener's job, stage and task records.
  */
object Layers {
  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** `graft.search` per request: (request id, shape, start ms, end ms). */
  def search(c: Ctx, reqs: Seq[(Long, String, Double, Double)]): Unit = {
    val byReq = c.rec.allSpans.filter(_.req >= 0).groupBy(_.req)
    def spans(name: String) = reqs.flatMap(r => byReq.getOrElse(r._1, Nil).filter(_.name == name))
    Seq("resolve", "termdfs", "plan", "exec").foreach { p =>
      c.layer(s"search.${p}_s") = med(spans(s"search.$p").map(_.dur))
    }
    Corpus.Shapes.foreach { sh =>
      c.layer(s"search.shape.${sh}_p50_s") = med(reqs.filter(_._2 == sh).map(r => (r._4 - r._3) / 1000.0))
    }
    val cs = reqs.map(r => c.rec.group(s"req-${r._1}", r._3, r._4))
    c.layer("search.jobs_per_req") = Stats.mean(cs.map(_.jobs.size.toDouble))
    c.layer("search.stages_per_req") = Stats.mean(cs.map(_.stages.toDouble))
    c.layer("search.tasks_per_req") = Stats.mean(cs.map(_.tasks.size.toDouble))
    c.layer("search.shuffle_bytes_per_req") = Stats.mean(cs.map(_.shuffleBytes.toDouble))
    c.layer("search.idle_s_per_req") = Stats.mean(cs.map(_.idleS))
    c.layer("search.task_cpu_s_per_req") = Stats.mean(cs.map(_.cpuS))
    c.layer("search.input_bytes_per_req") = Stats.mean(cs.map(_.inputBytes.toDouble))
    val plans = spans("search.plan")
    c.layer("search.route_wand_frac") =
      if (plans.isEmpty) 0.0 else plans.count(_.attrs.get("wand").contains(true)).toDouble / plans.size
  }

  /** `graft.index` over the timed full-core builds, and `graft.analysis`
    * single-thread tokenize throughput over a fixed text sample.
    */
  def build(c: Ctx, idxBytes: Map[String, Long], texts: Seq[String]): Unit = {
    val cs = c.rec.allSpans.filter(_.name == "index.build").map(s => c.rec.window(s.start, s.end))
    def per(f: Counters => Double) = Stats.mean(cs.map(f))
    c.layer("index.task_cpu_s") = per(_.cpuS)
    c.layer("index.task_run_s") = per(_.runS)
    c.layer("index.gc_s") = per(_.gcS)
    c.layer("index.shuffle_write_bytes") = per(_.shuffleWriteBytes.toDouble)
    c.layer("index.spill_bytes") = per(_.spillBytes.toDouble)
    c.layer("index.driver_gap_s") = per(_.idleS)
    c.layer("index.max_task_skew") = per(_.maxTaskSkew)
    c.layer("index.jobs") = per(_.jobs.size.toDouble)
    c.layer("index.stages") = per(_.stages.toDouble)
    c.layer("index.tasks") = per(_.tasks.size.toDouble)
    idxBytes.foreach { case (t, b) => c.layer(s"index.bytes.$t") = b.toDouble }
    val mb = texts.map(_.length.toLong).sum / 1e6
    val rates = (0 until 5).map { _ =>
      mb / Stats.time(texts.foreach(IndexBuilder.analyzeFieldFlat("summa", _)))._2
    }
    c.layer("analysis.tokenize_mb_per_s") = Stats.median(rates.drop(1))
  }

  /** `graft.index` Maintenance over the ingest cycles and the compaction
    * window [t0, t1].
    */
  def maint(c: Ctx, ingestedBytes: Long, liveSegments: Int, tombstones: Long, t0: Double, t1: Double): Unit = {
    def windows(name: String) = c.rec.allSpans.filter(_.name == name).map(s => c.rec.window(s.start, s.end))
    val (up, del, compact) = (windows("maint.upsert"), windows("maint.delete"), c.rec.window(t0, t1))
    c.layer("maint.upsert_jobs") = Stats.mean(up.map(_.jobs.size.toDouble))
    c.layer("maint.upsert_task_cpu_s") = Stats.mean(up.map(_.cpuS))
    c.layer("maint.delete_jobs") = Stats.mean(del.map(_.jobs.size.toDouble))
    c.layer("maint.compact_bytes_rewritten") = compact.outputBytes.toDouble
    val written = (up ++ del).map(_.outputBytes).sum + compact.outputBytes
    c.layer("maint.write_amp") = written.toDouble / ingestedBytes
    c.layer("maint.live_segments") = liveSegments.toDouble
    c.layer("maint.tombstones") = tombstones.toDouble
  }
}
