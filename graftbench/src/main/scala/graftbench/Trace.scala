package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval. Times are epoch nanoseconds on the driver clock;
  * `parent` is the id of the enclosing span (0 for a root).
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
                      runId: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Layer spans are opened by the benchmark around
  * every public call it makes; Spark job and stage spans come from
  * [[EngineListener]] and take the layer span open at job start as their
  * parent. Nothing is written until [[Trace.writeJsonl]] at the end of the run.
  */
final class Trace(val runId: String) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = mutable.Stack.empty[(Long, String, Long)]
  @volatile private var open: Long = 0L

  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + epochOffsetNs

  /** The innermost open layer span, read by the listener thread. */
  def current: Long = open

  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = open
    stack.push((id, name, nowNs)); open = id
    try body finally {
      val (_, _, start) = stack.pop()
      open = parent
      spans.add(Span(id, parent, name, start, nowNs, runId))
    }
  }

  def newId(): Long = ids.incrementAndGet()

  def add(name: String, parent: Long, startNs: Long, endNs: Long, id: Long = 0L): Unit =
    spans.add(Span(if (id != 0L) id else newId(), parent, name, startNs, endNs, runId))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  def writeJsonl(path: String): Unit = {
    val sb = new StringBuilder
    all.foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":${Gen.jsonString(s.name)},""")
        .append(s""""start_ns":${s.startNs},"end_ns":${s.endNs},"run":${Gen.jsonString(s.runId)}}""")
        .append('\n')
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }

  /** Self time per span name: duration minus the time of direct children. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val childTime = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    ss.foreach(s => if (s.parent != 0) childTime(s.parent) += s.endNs - s.startNs)
    ss.groupBy(_.name).map { case (n, xs) =>
      n -> xs.map(s => (s.endNs - s.startNs - childTime(s.id)).max(0L)).sum / 1e9
    }
  }
}

/** Engine counters from Spark's listener bus. Task counters are summed;
  * jobs and stages are counted, timed and recorded as spans.
  */
final class EngineListener(trace: Trace) extends SparkListener {
  // jobs, stages, tasks, task cpu ns, task run ms, shuffle write bytes,
  // spill bytes (memory + disk), task gc ms
  val counters = new AtomicLongArray(8)
  // job id -> (start ms, parent span, own span id); stage id -> job span
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  /** (start ms, end ms) of every finished job, for the no-job driver gap. */
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()

  private def ms2ns(ms: Long): Long = ms * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    counters.incrementAndGet(0)
    val id = trace.newId()
    jobStart.put(e.jobId, (e.time, trace.current, id))
    e.stageIds.foreach(s => stageJob.put(s, id))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStart.remove(e.jobId)
    if (s != null) {
      jobIntervals.add((s._1, e.time))
      trace.add("spark.job", s._2, ms2ns(s._1), ms2ns(e.time), s._3)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    counters.incrementAndGet(1)
    val t = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stageStart.put(e.stageInfo.stageId,
      (t, Option(stageJob.get(e.stageInfo.stageId)).map(_.longValue).getOrElse(trace.current)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stageStart.remove(e.stageInfo.stageId)
    if (s != null) {
      val end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      trace.add("spark.stage", s._2, ms2ns(s._1), ms2ns(end))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    counters.incrementAndGet(2)
    val m = e.taskMetrics
    if (m != null) {
      counters.addAndGet(3, m.executorCpuTime)
      counters.addAndGet(4, m.executorRunTime)
      counters.addAndGet(5, m.shuffleWriteMetrics.bytesWritten)
      counters.addAndGet(6, m.memoryBytesSpilled + m.diskBytesSpilled)
      counters.addAndGet(7, m.jvmGCTime)
    }
  }

  def snapshot: Array[Long] = Array.tabulate(counters.length)(counters.get)

  /** Milliseconds of [fromMs, toMs] covered by at least one finished job. */
  def jobCoveredMs(fromMs: Long, toMs: Long): Long = {
    val iv = jobIntervals.asScala.toSeq
      .map { case (a, b) => (a.max(fromMs), b.min(toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = curB.max(b)
    }
    if (curB > curA) covered += curB - curA
    covered
  }
}
