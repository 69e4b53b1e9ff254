package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed interval. Times are epoch milliseconds with sub-ms precision
  * (`System.nanoTime` anchored once), so driver spans and Spark listener
  * timestamps share a clock.
  */
final case class Span(
    id: Long,
    parent: Long,
    name: String,
    layer: String,
    req: Long,
    start: Double,
    end: Double,
    attrs: Map[String, Any] = Map.empty) {
  def dur: Double = (end - start) / 1000.0
}

/** What the listener saw of one task. */
final case class TaskRec(
    jobGroup: String,
    stageId: Int,
    launch: Double,
    finish: Double,
    runS: Double,
    cpuS: Double,
    gcS: Double,
    inputBytes: Long,
    outputBytes: Long,
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long)

final case class JobRec(
    jobId: Int,
    jobGroup: String,
    callSite: String,
    start: Double,
    var end: Double,
    stageIds: Seq[Int])

/** In-memory span recorder plus a Spark listener. Disabled, every call is a
  * plain pass-through: no spans, no listener, no job groups.
  */
final class Recorder(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val base = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def now(): Double = base + System.nanoTime() / 1e6

  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobMap = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  def jobs: Seq[JobRec] = jobMap.values().asScala.toSeq.sortBy(_.jobId)
  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** Time `f` as a span named `name` in `layer`; nested calls record their
    * parent. `req` ties the spans of one request together.
    */
  def span[A](name: String, layer: String, req: Long = -1L, attrs: Map[String, Any] = Map.empty)(f: => A): A =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = now()
      try f
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), name, layer, req, t0, now(), attrs))
        stack.set(parents)
      }
    }

  private val sqlSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  val listener: SparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlSite.put(s.executionId, s.description)
      case _                                 => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val group = prop("spark.jobGroup.id").getOrElse("")
      // jobs that adaptive execution starts from a pool thread carry no
      // useful stage name: name them by their SQL execution's call site and
      // the operator scope that started them
      val scope = prop("spark.rdd.scope").flatMap(""""name":"([^"]*)"""".r.findFirstMatchIn(_)).map(_.group(1))
      val sqlCall = prop("spark.sql.execution.root.id").flatMap(id => Option(sqlSite.get(id.toLong)))
      val site = sqlCall.map(cs => cs + scope.map(" / " + _).getOrElse(""))
        .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
      e.stageIds.foreach(s => stageGroup.put(s, group))
      jobMap.put(e.jobId, JobRec(e.jobId, group, site, e.time.toDouble, e.time.toDouble, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobMap.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(
        stageGroup.getOrDefault(e.stageId, ""),
        e.stageId,
        e.taskInfo.launchTime.toDouble,
        e.taskInfo.finishTime.toDouble,
        m.executorRunTime / 1e3,
        m.executorCpuTime / 1e9,
        m.jvmGCTime / 1e3,
        m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  /** Jobs and tasks that started inside [t0, t1] (single-client phases). */
  def window(t0: Double, t1: Double): Counters =
    Counters(jobs.filter(j => j.start >= t0 && j.start <= t1),
      tasks.asScala.toSeq.filter(t => t.launch >= t0 && t.launch <= t1), t0, t1)

  /** Jobs and tasks of job group `g` (one request, also under concurrency). */
  def group(g: String, t0: Double, t1: Double): Counters =
    Counters(jobs.filter(_.jobGroup == g), tasks.asScala.toSeq.filter(_.jobGroup == g), t0, t1)

  def spansJsonLines(workload: String): Iterator[String] =
    allSpans.iterator.map(s => Json.render(Map(
      "workload" -> workload, "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
      "req" -> s.req, "start_ms" -> s.start, "end_ms" -> s.end, "attrs" -> s.attrs))) ++
      jobs.iterator.map(j => Json.render(Map(
        "workload" -> workload, "kind" -> "job", "job" -> j.jobId, "group" -> j.jobGroup,
        "name" -> s"job: ${j.callSite}", "start_ms" -> j.start, "end_ms" -> j.end,
        "stages" -> j.stageIds)))
}

/** Listener counters over one interval. */
final case class Counters(jobs: Seq[JobRec], tasks: Seq[TaskRec], t0: Double, t1: Double) {
  def stages: Int = jobs.flatMap(_.stageIds).distinct.count(s => tasks.exists(_.stageId == s))
  def cpuS: Double = tasks.map(_.cpuS).sum
  def runS: Double = tasks.map(_.runS).sum
  def gcS: Double = tasks.map(_.gcS).sum
  def inputBytes: Long = tasks.map(_.inputBytes).sum
  def outputBytes: Long = tasks.map(_.outputBytes).sum
  def shuffleBytes: Long = tasks.map(t => t.shuffleReadBytes + t.shuffleWriteBytes).sum
  def shuffleWriteBytes: Long = tasks.map(_.shuffleWriteBytes).sum
  def spillBytes: Long = tasks.map(_.spillBytes).sum

  /** Wall time in [t0, t1] with no task running: driver work and scheduling. */
  def idleS: Double = {
    val iv = tasks.map(t => (math.max(t.launch, t0), math.min(t.finish, t1))).filter(i => i._2 > i._1).sortBy(_._1)
    var covered = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    iv.foreach { case (s, e) =>
      if (cs.isNaN || s > ce) { if (!cs.isNaN) covered += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (!cs.isNaN) covered += ce - cs
    math.max(0.0, (t1 - t0) - covered) / 1000.0
  }

  /** Longest over median task duration in the stage with the most task time. */
  def maxTaskSkew: Double = {
    val byStage = tasks.groupBy(_.stageId)
    if (byStage.isEmpty) 0.0
    else {
      val big = byStage.values.maxBy(_.map(_.runS).sum)
      val d = big.map(t => t.finish - t.launch).sorted
      val med = d(d.size / 2)
      if (med <= 0) 1.0 else d.last / med
    }
  }
}

/** Minimal JSON rendering for the result and span files. */
object Json {
  def render(v: Any): String = v match {
    case null                => "null"
    case s: String           => quote(s)
    case b: Boolean          => b.toString
    case d: Double           => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float            => render(f.toDouble)
    case n: Int              => n.toString
    case n: Long             => n.toString
    case m: Map[_, _]        => m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]     => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_]        => xs.map(render).mkString("[", ",", "]")
    case o: Option[_]        => o.map(render).getOrElse("null")
    case other               => quote(other.toString)
  }

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
