package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a timed call made by the benchmark, or a Spark job, stage or
  * task reported by the listener. Times are epoch nanoseconds. */
final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long,
    run: String, attrs: Map[String, Double] = Map.empty) {
  def dur: Long = end - start
}

/** In-memory span recorder. Spans are kept until the run ends and then
  * written out as JSON lines; nothing is written while timing. */
final class Tracer(val run: String) {
  private val epochBase = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  def now(): Long = epochBase + (System.nanoTime() - nanoBase)
  def newId(): Long = nextId.getAndIncrement()
  def current: Long = stack.get.headOption.getOrElse(0L)

  /** Run `f` inside a span; Spark jobs it submits attach under it. */
  def span[T](name: String, sc: SparkContext = null)(f: => T): (T, Span) = {
    val id = newId()
    val parent = current
    stack.set(id :: stack.get)
    val prevProp = if (sc != null) sc.getLocalProperty(Tracer.SpanProp) else null
    if (sc != null) sc.setLocalProperty(Tracer.SpanProp, id.toString)
    val t0 = now()
    try {
      val r = f
      val s = Span(id, parent, name, t0, now(), run)
      spans.add(s)
      (r, s)
    } finally {
      stack.set(stack.get.tail)
      if (sc != null) sc.setLocalProperty(Tracer.SpanProp, prevProp)
    }
  }

  def add(s: Span): Unit = spans.add(s)

  def all: Seq[Span] = { import scala.jdk.CollectionConverters._; spans.asScala.toSeq }

  /** Self time per span: its duration minus the part of its interval
    * covered by its children. */
  def selfTimes: Map[Long, Long] = {
    val xs = all
    val kids = xs.groupBy(_.parent)
    xs.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue; var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.dur - covered)
    }.toMap
  }

  def writeJsonl(path: java.io.File): Unit = {
    val self = selfTimes
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      w.println(Json.write(ListMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run" -> s.run,
        "start_ns" -> s.start, "end_ns" -> s.end, "self_ns" -> self(s.id), "attrs" -> s.attrs)))
    } finally w.close()
  }
}

object Tracer { val SpanProp = "perfbench.span" }

/** Task counters of one Spark stage, as the listener saw them. */
final class StageAgg(val stageId: Int) {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadRecords = 0L
  var spillBytes = 0L
  var maxTaskMs = 0L
  var firstTaskEnd = Long.MaxValue
  var tasksWithShuffleRows = 0L
  var maxShuffleTaskMs = 0L
}

/** Listener that turns jobs, stages and tasks into spans under the
  * benchmark span that submitted them, and aggregates task metrics per
  * benchmark span. */
final class JobListener(tracer: Tracer) extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, (Long, Long, Long)] // job -> (spanId, parent, start)
  private val stageToJob = mutable.Map.empty[Int, Int]
  private val stageSpan = mutable.Map.empty[Int, Long]
  /** benchmark span id -> stage aggregates (per stage id) */
  val bySpan = mutable.Map.empty[Long, mutable.LinkedHashMap[Int, StageAgg]]
  private val jobOwner = mutable.Map.empty[Int, Long]
  val jobSubmit = mutable.Map.empty[Long, Long] // span -> first job submit (epoch ms)
  private val jobWall = mutable.Map.empty[Long, Long] // span -> summed job wall time (ms)

  private def id(): Long = tracer.newId()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val owner = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp))).map(_.toLong).getOrElse(0L)
    jobOwner(e.jobId) = owner
    jobSubmit.get(owner) match {
      case Some(t) if t <= e.time =>
      case _ => jobSubmit(owner) = e.time
    }
    jobSpan(e.jobId) = (id(), owner, e.time)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (sid, parent, start) =>
      jobWall(parent) = jobWall.getOrElse(parent, 0L) + (e.time - start)
      tracer.add(Span(sid, parent, s"spark.job.${e.jobId}", start * 1000000L, e.time * 1000000L, tracer.run))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan.getOrElseUpdate(e.stageInfo.stageId, id())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val sid = stageSpan.getOrElseUpdate(si.stageId, id())
    val parent = stageToJob.get(si.stageId).flatMap(j => jobSpan.get(j).map(_._1)).getOrElse(0L)
    for (a <- si.submissionTime; b <- si.completionTime)
      tracer.add(Span(sid, parent, s"spark.stage.${si.stageId}", a * 1000000L, b * 1000000L, tracer.run,
        Map("tasks" -> si.numTasks.toDouble)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val owner = stageToJob.get(e.stageId).flatMap(jobOwner.get).getOrElse(0L)
    val aggs = bySpan.getOrElseUpdate(owner, mutable.LinkedHashMap.empty)
    val a = aggs.getOrElseUpdate(e.stageId, new StageAgg(e.stageId))
    val ti = e.taskInfo
    val m = e.taskMetrics
    val dur = ti.finishTime - ti.launchTime
    a.tasks += 1
    a.maxTaskMs = math.max(a.maxTaskMs, dur)
    a.firstTaskEnd = math.min(a.firstTaskEnd, ti.finishTime)
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      val rr = m.shuffleReadMetrics.recordsRead
      a.shuffleReadRecords += rr
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      if (rr > 0) { a.tasksWithShuffleRows += 1; a.maxShuffleTaskMs = math.max(a.maxShuffleTaskMs, dur) }
    }
    tracer.add(Span(id(), stageSpan.getOrElseUpdate(e.stageId, id()), s"spark.task.${e.stageId}",
      ti.launchTime * 1000000L, ti.finishTime * 1000000L, tracer.run,
      Map("run_ms" -> (if (m != null) m.executorRunTime else 0L).toDouble)))
  }

  def stages(span: Long): Seq[StageAgg] = synchronized {
    bySpan.get(span).map(_.values.toSeq).getOrElse(Nil)
  }

  def allStages: Seq[StageAgg] = synchronized { bySpan.values.flatMap(_.values).toSeq }

  /** Wall time of the jobs submitted directly under a span. */
  def jobWallMs(span: Long): Long = synchronized { jobWall.getOrElse(span, 0L) }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** Nested maps (ListMap keeps key order), sequences, strings and numbers. */
  def write(v: Any): String = mapper.writeValueAsString(v)
}
