package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.json4s._

/** In-memory span recorder. A span is opened by the benchmark's own code
  * around a call into one layer's public function; spans nest per thread,
  * and every span of one request or entry shares that item's request id.
  * The innermost open span's id is set as a Spark local property on the
  * calling thread, so [[JobListener]] can attribute each job to the span
  * that launched it. Disabled, [[span]] is a plain call. */
final class Trace(sc: SparkContext) {
  import Trace._

  @volatile var enabled = false
  private val nextId = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }

  /** Root span of one request / entry: children opened inside share `req`. */
  def request[T](req: String, name: String)(body: => T): T =
    if (!enabled) body else record("request", name, Some(req))(body)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body else record(layer, name, None)(body)

  private def record[T](layer: String, name: String, newReq: Option[String])(body: => T): T = {
    val stack = open.get()
    val parent = stack.headOption.map(_._1).getOrElse(-1L)
    val req = newReq.orElse(stack.headOption.map(_._2)).getOrElse("")
    val id = nextId.incrementAndGet()
    open.set((id, req) :: stack)
    sc.setLocalProperty(SpanProperty, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.set(stack)
      sc.setLocalProperty(SpanProperty, if (parent < 0) null else parent.toString)
      spans.add(Span(id, parent, req, layer, name, t0, t1))
    }
  }

  def spansJson: JValue = JArray(spans.asScala.toList.sortBy(_.id).map(s => JArray(List(
    JLong(s.id), JLong(s.parent), JString(s.req), JString(s.layer), JString(s.name),
    JLong(s.startNs), JLong(s.endNs)))))
}

object Trace {
  val SpanProperty = "graftbench.span"
  final case class Span(id: Long, parent: Long, req: String, layer: String,
      name: String, startNs: Long, endNs: Long)
}

/** Job, stage and task accounting for a traced run. Registered by the
  * benchmark itself (never in untraced runs). Jobs are attributed to the
  * span whose id the launching thread carried as a local property. */
final class JobListener extends SparkListener {
  import JobListener._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val schedDelay = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .map(_.toLong).getOrElse(-1L)
    val ids = e.stageInfos.map(_.stageId)
    ids.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    jobs(e.jobId) = Job(e.jobId, span, e.time, ids)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    taskSpans += ((i.launchTime, i.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      val delay = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L)
      schedDelay(e.stageId) += math.max(0L, delay)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = s.taskMetrics
    if (m != null) stages += Stage(s.stageId, stageJob.getOrElse(s.stageId, -1), m.executorRunTime,
      s.numTasks, m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead, schedDelay(s.stageId))
  }

  def json: JValue = synchronized {
    JObject(
      "jobs" -> JArray(jobs.values.toList.map(j => JArray(List(
        JInt(j.id), JLong(j.span), JLong(j.start), JLong(j.end), JArray(j.stages.toList.map(JInt(_))))))),
      "stages" -> JArray(stages.toList.map(s => JArray(List(JInt(s.id), JInt(s.job), JLong(s.runMs),
        JInt(s.tasks), JLong(s.shuffleRead), JLong(s.shuffleWrite), JLong(s.spill),
        JLong(s.recordsRead), JLong(s.schedDelayMs))))),
      "tasks" -> JArray(taskSpans.toList.map { case (a, b) => JArray(List(JLong(a), JLong(b))) }))
  }
}

object JobListener {
  private final case class Job(id: Int, span: Long, start: Long, stages: Seq[Int], var end: Long = -1L)
  private final case class Stage(id: Int, job: Int, runMs: Long, tasks: Int, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, recordsRead: Long, schedDelayMs: Long)
}

/** Captures the job/stage/task accounting and GC time of one traced phase
  * with a listener of its own. */
final class ListenerWindow {
  private var listener: JobListener = _
  private var t0, t1, gcMs = 0L

  def around[T](body: => T): T = {
    val sc = org.apache.spark.SparkContext.getOrCreate()
    listener = new JobListener
    sc.addSparkListener(listener)
    val gc0 = Main.gcMillis()
    t0 = System.currentTimeMillis()
    try body
    finally {
      t1 = System.currentTimeMillis()
      gcMs = Main.gcMillis() - gc0
      org.apache.spark.graftbench.ListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
  }

  def json: JValue = JObject(
    "window_ms" -> JArray(List(JLong(t0), JLong(t1))),
    "gc_s" -> JDouble(gcMs / 1e3)) merge listener.json
}
