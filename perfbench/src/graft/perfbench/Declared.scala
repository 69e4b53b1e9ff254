package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry

/** One warm pass of every `SparkEntry.queries` entry (results kept for the
  * DuckDB oracle compare), then timed passes through the noop sink.
  */
object Declared {

  /** Module whose code each entry mostly exercises. */
  def module(name: String): String = name match {
    case n if n.startsWith("q_dedup_")                          => "ops.dedup"
    case n if n.startsWith("q_ann_")                            => "ops.similarity"
    case "q_text_stats" | "q_text_fingerprint"                  => "ops.textstats"
    case "q_multimodal_features"                                => "ops.multimodal"
    case n if n.startsWith("q_sql_")                            => "plans.sql"
    case n if n.startsWith("q_agg_") || n.startsWith("q_facet") || n.contains("histogram") ||
        Set("q_topk_fastfield", "q_reservoir", "q_eval_topk")(n) => "search.collectors"
    case _                                                      => "search.declared"
  }

  def run(c: Ctx, sfDir: String): Unit = {
    val spark = c.spark
    val entries = SparkEntry.queries.toSeq.sortBy(_._1)
    val out = c.dir("declared-out")
    // warm pass: builds the memoized docs indexes; results go to the oracle compare
    val (_, warmS) = Stats.time(entries.foreach { case (name, fn) =>
      c.op(fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$out/$name"))
    })
    Files.write(Paths.get(out, "oracle_sql.json"), Json.render(SparkEntry.oracleSql).getBytes(StandardCharsets.UTF_8))
    c.oracle += Map("name" -> "declared", "declared_out" -> out, "sf" -> sfDir)

    val per = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val passes = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < c.seconds) {
      var total = 0.0
      entries.foreach { case (name, fn) =>
        c.op(c.rec.span(s"declared.$name", module(name)) {
          Stats.time(fn(spark, sfDir).write.format("noop").mode("overwrite").save())._2
        }).foreach { s =>
          per.getOrElseUpdate(name, mutable.ArrayBuffer()) += s
          total += s
        }
      }
      passes += total
    }
    val entryMed = per.map { case (n, xs) => n -> Stats.median(xs.toSeq) }
    val (tailV, tailP) = Stats.tail(entryMed.values.toSeq)
    c.info("sizes") = Map("entries" -> entries.size, "passes" -> passes.size, "sf" -> Paths.get(sfDir).getFileName.toString)
    c.e2e("setup_s") = (warmS, "s")
    c.e2e("p50_s") = (Stats.median(entryMed.values.toSeq), "s")
    c.e2e("rate_per_s") = (entries.size / Stats.median(passes.toSeq), "1/s")
    c.e2e("serial_per_s") = (entries.size / Stats.median(passes.toSeq), "1/s")
    c.metric("setup_s", warmS, "s", "warm pass incl. docs-index builds and result writes")
    c.metric("declared_total_s", Stats.median(passes.toSeq), "s", s"${entries.size} entries, median of ${passes.size} passes")
    c.metric("declared_entry_p50_s", Stats.median(entryMed.values.toSeq), "s", s"p$tailP entry: $tailV s")

    if (c.rec.on) {
      entryMed.foreach { case (n, s) => c.layer(s"declared.${n}_s") = s }
      entryMed.groupBy { case (n, _) => module(n) }.foreach { case (m, xs) =>
        c.layer(s"${m}_s") = xs.values.sum
      }
      val timed = c.rec.window(c.rec.now() - (System.nanoTime() - t0) / 1e6, c.rec.now())
      c.layer("declared.jobs") = timed.jobs.size.toDouble / passes.size
      c.layer("declared.shuffle_bytes") = timed.shuffleBytes.toDouble / passes.size
    }
  }
}
