package graft

import org.apache.spark.sql.SparkSession

import graft.index.{IndexBuilder, IndexSchema}

/** One CPU-pinned build phase, run as a `taskset`-confined subprocess by
  * [[Bench]] so that `local[8]` really means 8 cores (GC / codec / IO threads
  * included) — the faithful sandbox stand-in for an N-executor cluster.
  *
  * Runs `reps` timed builds after one warmup and reports the MEDIAN —
  * single-run build times on this VM swing ±35% with CPU frequency/cache
  * state, enough to flip the headline N→4N scaling-efficiency gate
  * (BENCH_r01 measured 0.597 on one run of the same code that measured
  * 0.81–0.95 across repeated runs).
  *
  * args: pagesDir indexDir cpus [reps]
  * stdout: `BUILD_SECONDS=<float>` (median) and `BUILD_SECONDS_ALL=<a,b,c>`
  */
object BenchPhase {
  def main(args: Array[String]): Unit = {
    val (pagesDir, indexDir, cpusS) = (args(0), args(1), args(2))
    val reps = if (args.length > 3) args(3).toInt else 3
    val cpus = cpusS.toInt
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-phase-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "zstd")
      // shuffle/spill files live next to the index (tmpfs when the caller
      // put the workdir there) — host-disk I/O noise otherwise dominates
      // single-build variance
      .config("spark.local.dir", s"$indexDir-scratch")
      // the build cache's string columns (doc keys, stored text) are
      // near-distinct: the columnar dictionary encoder gathers stats on
      // every value only to reject the scheme — skip compression for the
      // build session (memory is the cheap resource during a build)
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // warmup: JIT + codec + scheduler paths; also faults the input into the
    // OS page cache so the timed run measures compute, not cold reads
    spark.read.parquet(pagesDir).count()
    IndexBuilder.build(
      spark, spark.read.parquet(pagesDir).limit(10000), IndexSchema.pages,
      s"$indexDir-warm", "warm", IndexBuilder.BuildConf(numSegments = 8))

    // task-time accounting: executor run-time vs cpu-time split shows
    // whether extra per-core time at higher parallelism is compute
    // inflation (contention) or waiting (bandwidth/GC stalls)
    val runTime = new java.util.concurrent.atomic.AtomicLong
    val cpuTime = new java.util.concurrent.atomic.AtomicLong
    val gcTime = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          runTime.addAndGet(m.executorRunTime)
          cpuTime.addAndGet(m.executorCpuTime / 1000000L)
          gcTime.addAndGet(m.jvmGCTime)
          ()
        }
      }
    })

    val times = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      IndexBuilder.build(
        spark, spark.read.parquet(pagesDir), IndexSchema.pages,
        s"$indexDir-r$i", s"bench-$cpus-r$i",
        // oversubscribe tasks per core so stage-tail skew doesn't idle
        // cores — the multi-executor analog of spark's 2-3 tasks-per-slot
        // guidance
        IndexBuilder.BuildConf(numSegments = 8, buildPartitions = cpus * 3))
      (System.nanoTime() - t0) / 1e9
    }
    // keep the LAST rep's index at the caller-visible path (queries run on it)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.rename(
      new org.apache.hadoop.fs.Path(s"$indexDir-r$reps"),
      new org.apache.hadoop.fs.Path(indexDir))
    val median = times.sorted.apply(times.size / 2)
    println(f"TASK_TIME run=${runTime.get / 1000.0}%.1fs cpu=${cpuTime.get / 1000.0}%.1fs " +
      f"gc=${gcTime.get / 1000.0}%.1fs")
    println("BUILD_SECONDS_ALL=" + times.map(t => f"$t%.4f").mkString(","))
    println(f"BUILD_SECONDS=$median%.4f")
    spark.stop()
  }
}
