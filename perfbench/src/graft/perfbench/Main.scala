package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: runs one workload in this JVM and writes a result file
  * that `perfbench/run.py` turns into the benchmark's output line.
  *
  * Usage: `graft.perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  * <smoke 0|1> <workDir> [sfDir]`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, smoke, work) = args.take(6)
    val sfDir = args.lift(6)
    val cores = Runtime.getRuntime.availableProcessors().min(4)
    val spark = session(s"local[$cores]", cores, work)
    val rec = new Recorder(trace == "1")
    if (rec.on) spark.sparkContext.addSparkListener(rec.listener)
    val c = new Ctx(spark, workload, seed.toLong, seconds.toDouble, rec, smoke == "1", work, cores)
    // generator fingerprint at a fixed seed, independent of the run's seed
    c.info("probe_sha256") = Stats.sha((0L until 200L).iterator.map(i => Corpus.page(0, i).text) ++
      Corpus.requests(0, 200, 60).iterator.map(Corpus.render))
    c.info("env") = Map("jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20), "available_processors" ->
        Runtime.getRuntime.availableProcessors(), "master" -> spark.sparkContext.master)
    try {
      workload match {
        case "serve"    => Serve.run(c)
        case "build"    => Build.run(c)
        case "ingest"   => Ingest.run(c)
        case "declared" => Declared.run(c, sfDir.getOrElse(sys.error("declared needs the test-data dir")))
        case other      => sys.error(s"unknown workload: $other")
      }
    } finally {
      c.writeResult()
      if (rec.on) Files.write(Paths.get(work, "spans.jsonl"),
        rec.spansJsonLines(workload).toSeq.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }

  def session(master: String, cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Per-run state: metrics, correctness checks and the result file. */
final class Ctx(
    val spark: SparkSession,
    val workload: String,
    val seed: Long,
    val seconds: Double,
    val rec: Recorder,
    val smoke: Boolean,
    val work: String,
    val cores: Int) {
  /** End-to-end slots (every workload fills all of them). */
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  /** The workload's named metrics, printed for people and the trace report. */
  val named = mutable.LinkedHashMap[String, (Double, String, String)]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, Any]()
  val oracle = mutable.ArrayBuffer[Map[String, Any]]()
  private val checks = mutable.ArrayBuffer[Map[String, Any]]()
  val attempted = new java.util.concurrent.atomic.AtomicLong(0)
  val failed = new java.util.concurrent.atomic.AtomicLong(0)

  def dir(name: String): String = s"$work/$name"

  /** Log a phase boundary with seconds since JVM start. */
  def phase(name: String): Unit = {
    val up = (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    println(f"[$workload] phase $name%-24s at $up%7.2f s")
  }

  /** Count one timed operation; an exception counts as a failure. */
  def op[A](f: => A): Option[A] = {
    attempted.incrementAndGet()
    try Some(f)
    catch {
      case e: Exception =>
        failed.incrementAndGet()
        System.err.println(s"[perfbench] operation failed: $e")
        None
    }
  }

  /** Record a correctness check; `ok` false (or throwing) counts as a failure. */
  def check(name: String, detail: => String)(ok: => Boolean): Unit = {
    attempted.incrementAndGet()
    val (pass, d) =
      try (ok, detail)
      catch { case e: Exception => (false, s"threw $e") }
    if (!pass) {
      failed.incrementAndGet()
      System.err.println(s"[perfbench] check FAILED: $name: $d")
    }
    checks.synchronized { checks += Map("name" -> name, "ok" -> pass, "detail" -> d) }
  }

  def metric(name: String, value: Double, unit: String, note: String = ""): Unit = {
    named(name) = (value, unit, note)
    println(f"[$workload] $name%-28s $value%14.6f $unit%-8s $note")
  }

  def writeResult(): Unit = {
    val m = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> rec.on, "smoke" -> smoke,
      "cores" -> cores, "attempted" -> attempted.get, "failed" -> failed.get,
      "e2e" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "named" -> named.map { case (k, (v, u, n)) => k -> Map("value" -> v, "unit" -> u, "note" -> n) }.toMap,
      "per_layer" -> layer.toMap,
      "info" -> info.toMap,
      "checks" -> checks.toSeq,
      "oracle" -> oracle.toSeq)
    Files.write(Paths.get(work, "result.json"), Json.render(m).getBytes(StandardCharsets.UTF_8))
  }
}

/** Small timing and statistics helpers shared by the workloads. */
object Stats {
  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median over shapes of each shape's median latency: the typical
    * request with every shape weighted alike. A plain median of a mix whose
    * shapes sit in two latency groups jumps between them as the counts per
    * shape shift by one.
    */
  def shapeBalancedMedian(xs: Seq[(String, Double)]): Double =
    median(xs.groupBy(_._1).values.map(v => median(v.map(_._2))).toSeq)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Highest percentile (whole percent) with at least ten samples above it;
    * with fewer than 11 samples, the maximum. Returns (value, percentile).
    */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n < 11) (s.last, 100)
    else {
      val p = (99 to 1 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= 10).get
      (s(math.ceil(p / 100.0 * n).toInt - 1), p)
    }
  }

  /** (total, steal) jiffies of all CPUs from /proc/stat, where there is one. */
  def cpuSteal(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      Some((f.sum, if (f.length > 7) f(7) else 0L))
    } catch { case _: Exception => None }

  /** Total size of the files under a directory. */
  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }
  }

  /** SHA-256 of strings, hex. */
  def sha(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
