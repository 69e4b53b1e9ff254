package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The job group of the marker jobs [[listening]] flushes with. */
  val FlushGroup = "listener-flush"

  private def groupOf(e: SparkListenerJobStart): Option[String] =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  /** Run `body` with `listener` attached, and return once the listener has
    * seen every event `body` posted: a marker job in [[FlushGroup]] runs
    * last, and the shared listener queue delivers its start after them.
    */
  def listening(listener: SparkListener)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val flushed = new CountDownLatch(1)
    val flush = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (groupOf(e).contains(FlushGroup)) flushed.countDown()
    }
    sc.addSparkListener(listener)
    sc.addSparkListener(flush)
    try {
      body
      sc.setJobGroup(FlushGroup, "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(flushed.await(60, TimeUnit.SECONDS), "listener flush job never seen")
    } finally {
      sc.removeSparkListener(flush)
      sc.removeSparkListener(listener)
    }
  }

  /** Stage count of every job `body` starts, seen by a listener scoped to a
    * job group.
    */
  def jobStages(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val group = s"job-stages-${System.nanoTime()}"
    val stages = new ConcurrentLinkedQueue[Integer]()
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (groupOf(e).contains(group)) stages.add(e.stageInfos.size)
    }) {
      sc.setJobGroup(group, "job stages")
      try body finally sc.clearJobGroup()
    }
    stages.asScala.map(_.intValue).toSeq
  }
}
