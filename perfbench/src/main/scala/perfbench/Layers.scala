package perfbench

import java.io.{ByteArrayInputStream, File, InputStream}

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.graft.ListenerBusBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{DiffKernelU8, GraftFunctions}
import graft.sources.{CountingByteSource, MediaWikiInputPartition, MediaWikiScan, PageRecordIterator}

/** The traced run: spans around each layer's public entry point, plus
  * Spark listener counters, reduced to the per-layer metrics. Direct
  * layer calls are single-threaded; pipeline and sink calls run at
  * `local[nproc]`. */
object Layers {
  import Main.{median, secs}

  final case class Expected(revisions: Long, ops: Long, opBytes: Long, errors: Long)

  def plan(w: Main.History, conf: Configuration, f: File): Seq[MediaWikiInputPartition] = {
    val path = new Path(f.getPath)
    MediaWikiScan.partitionsForFiles(new CompressionCodecFactory(conf),
      Seq((path.getFileSystem(conf), path)), w.splitBytes(f), w.options(f))
  }

  /** The dump's bytes as the scan sees them: through the codec the
    * scan opens for the file (Hadoop's BZip2Codec for .bz2), to EOF. */
  def decode(conf: Configuration, f: File): Array[Byte] = {
    val path = new Path(f.getPath)
    val raw = path.getFileSystem(conf).open(path)
    val codec = new CompressionCodecFactory(conf).getCodec(path)
    val in: InputStream = if (codec == null) raw else codec.createInputStream(raw)
    try in.readAllBytes() finally in.close()
  }

  def iterator(bytes: Array[Byte], needText: Boolean): PageRecordIterator =
    new PageRecordIterator(new CountingByteSource(new ByteArrayInputStream(bytes), 0L),
      0L, Long.MaxValue, false, needText = needText)

  /** (prev text, curr text) of every revision, in dump order. */
  def pairs(bytes: Array[Byte]): Array[(UTF8String, UTF8String)] = {
    val it = iterator(bytes, needText = true)
    val b = ArrayBuffer.empty[(UTF8String, UTF8String)]
    try it.foreach(rp => b += ((rp.prev.map(_.textU8).orNull, rp.curr.textU8))) finally it.close()
    b.toArray
  }

  /** The ops diffdb must contain: the kernel over every pair, as the
    * diffdb expression calls it (missing text diffs as empty). */
  def diffCounts(ps: Array[(UTF8String, UTF8String)], parallel: Boolean): Expected = {
    val e = UTF8String.EMPTY_UTF8
    val one: Int => Array[Long] = i => {
      val (a, b) = ps(i)
      try {
        val ops = DiffKernelU8.diffOps(if (a == null) e else a, if (b == null) e else b)
        Array(ops.length.toLong, ops.map(_.content.numBytes().toLong).sum, 0L)
      } catch { case _: Throwable => Array(0L, 0L, 1L) }
    }
    val tot = new Array[Long](3)
    if (parallel) {
      val r = java.util.stream.IntStream.range(0, ps.length).parallel()
        .mapToObj[Array[Long]](i => one(i))
        .reduce(new Array[Long](3), (x: Array[Long], y: Array[Long]) => Array(x(0) + y(0), x(1) + y(1), x(2) + y(2)))
      Array.copy(r, 0, tot, 0, 3)
    } else {
      var i = 0
      while (i < ps.length) { val r = one(i); tot(0) += r(0); tot(1) += r(1); tot(2) += r(2); i += 1 }
    }
    Expected(ps.length, tot(0), tot(1), tot(2))
  }

  def expected(plainDump: File): Expected = {
    val bytes = java.nio.file.Files.readAllBytes(plainDump.toPath)
    diffCounts(pairs(bytes), parallel = true)
  }

  /** Captures the query executions that succeed while registered. */
  final class PlanCapture extends QueryExecutionListener {
    private val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    def last: QueryExecution = { import scala.jdk.CollectionConverters._; seen.asScala.lastOption.orNull }
    def clear(): Unit = seen.clear()
    /** Seconds the captured executions spent in Catalyst's analysis,
      * optimisation and physical planning phases. */
    def planningS: Double = {
      import scala.jdk.CollectionConverters._
      val phases = Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
      seen.asScala.map(qe => phases.flatMap(qe.tracker.phases.get).map(_.durationMs).sum).sum / 1e3
    }
  }
  private object PlanWalk extends AdaptiveSparkPlanHelper

  def scanMetrics(qe: QueryExecution): Map[String, Long] =
    if (qe == null) Map.empty
    else PlanWalk.collect(qe.executedPlan) { case b: BatchScanExec => b }
      .flatMap(_.metrics.map { case (k, m) => k -> m.value })
      .groupMapReduce(_._1)(_._2)(_ + _)

  def runHistory(spark: SparkSession, w: Main.History, out: File, passDir: File): Seq[(String, Double)] = {
    val tracer = new Tracer(s"${w.name}-${System.currentTimeMillis()}")
    val (m, _) = tracer.span("traced_run", spark.sparkContext)(measure(spark, w, out, passDir, tracer))
    tracer.writeJsonl(new File(out, "trace.jsonl"))
    m
  }

  /** The traced registry pass: the listener attached, a span around
    * each query and around the building of its DataFrame. A query's
    * planning time is the time it spends building its DataFrame outside
    * Spark jobs (analysis, plus the planning of any eager sub-query)
    * plus the Catalyst phases of its collect; the rest of its wall time
    * is execution. `untraced` is the wall time of an untraced pass, the
    * base for the tracing overhead. */
  def runRegistry(spark: SparkSession, w: Main.Registry, out: File, untraced: Double): (Seq[(String, Double)], Seq[Main.Ran]) = {
    val sc = spark.sparkContext
    val tracer = new Tracer(s"${w.name}-${System.currentTimeMillis()}")
    val listener = new JobListener(tracer)
    val capture = new PlanCapture
    sc.addSparkListener(listener)
    spark.listenerManager.register(capture)
    val ran = tracer.span("traced_run", sc) {
      Main.Registry.Queries.map { q =>
        val ((result, planS), s) = tracer.span(s"queries.$q", sc) {
          Try {
            val (df, build) = tracer.span(s"queries.$q.build", sc)(w.query(spark, q))
            ListenerBusBridge.flush(sc, 60000L)
            capture.clear()
            val rows = df.collect()
            ListenerBusBridge.flush(sc, 60000L)
            ((df.schema, rows), build.dur / 1e9 - listener.jobWallMs(build.id) / 1e3 + capture.planningS)
          } match {
            case Success((r, p)) => (Success(r), p)
            case Failure(e) => (Failure(e), 0.0)
          }
        }
        (Main.Ran(q, s.dur / 1e9, result), planS)
      }
    }._1
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(capture)
    tracer.writeJsonl(new File(out, "trace.jsonl"))

    val traced = ran.map(_._1.seconds).sum
    val planS = ran.map(_._2).sum
    val stages = listener.allStages
    val runS = stages.map(_.runMs).sum / 1e3
    val shuffleMb = stages.map(_.shuffleWriteBytes).sum / 1e6
    val spillMb = stages.map(_.spillBytes).sum / 1e6
    val gcS = stages.map(_.gcMs).sum / 1e3
    val m = Seq(
      "queries.plan_s" -> planS,
      "queries.exec_s" -> (traced - planS),
      "queries.tasks" -> stages.map(_.tasks).sum.toDouble,
      "queries.shuffle_mb" -> shuffleMb,
      "queries.spill_mb" -> spillMb,
      "queries.gc_s" -> gcS) ++
      ran.map { case (r, _) => s"queries.${r.query}.s" -> r.seconds } ++ Seq(
      "job.tasks" -> stages.map(_.tasks).sum.toDouble,
      "job.executor_run_s" -> runS,
      "job.executor_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "job.gc_s" -> gcS,
      "job.shuffle_write_mb" -> shuffleMb,
      "job.spill_mb" -> spillMb,
      "job.max_task_s" -> (if (stages.isEmpty) 0.0 else stages.map(_.maxTaskMs).max / 1e3),
      "job.core_util" -> runS / (untraced * w.nproc),
      "trace.overhead_frac" -> (traced / untraced - 1),
      "check.untraced_wall_s" -> untraced)
    (m, ran.map(_._1))
  }

  private def measure(spark: SparkSession, w: Main.History, out: File, passDir: File,
      tracer: Tracer): Seq[(String, Double)] = {
    val sc = spark.sparkContext
    val conf = sc.hadoopConfiguration
    val dump = w.dump
    val m = ArrayBuffer.empty[(String, Double)]
    def reps[T](n: Int)(f: => T): (Double, T) = {
      var last: T = null.asInstanceOf[T]
      val ts = (0 until n).map { _ => val t0 = System.nanoTime(); last = f; secs(t0) }
      (median(ts), last)
    }

    val listener = new JobListener(tracer)
    val capture = new PlanCapture
    def sp[T](name: String)(f: => T): (T, Span) = tracer.span(name, sc)(f)

    // e2e passes, untraced and traced (listener attached) in pairs whose
    // order alternates: the untraced ones are the base for the tracing
    // overhead, the median traced one gives the job.* counters
    val untracedWalls = ArrayBuffer.empty[Double]
    def untracedPass(): Unit = {
      Main.deleteTree(passDir)
      val tu = System.nanoTime()
      w.pass(spark, dump, passDir)
      untracedWalls += secs(tu)
    }
    val passSpans = (0 until 4).map { i =>
      if (i % 2 == 0) untracedPass()
      Main.deleteTree(passDir)
      sc.addSparkListener(listener)
      spark.listenerManager.register(capture)
      capture.clear()
      val (_, s) = sp("e2e.pass")(w.pass(spark, dump, passDir))
      ListenerBusBridge.flush(sc, 60000L)
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(capture)
      if (i % 2 == 1) untracedPass()
      (s, scanMetrics(capture.last))
    }
    val untraced = median(untracedWalls.toSeq)
    sc.addSparkListener(listener)
    val (passSpan, dsv2) = passSpans.sortBy(_._1.dur).apply(passSpans.size / 2)
    val wall = passSpan.dur / 1e9
    val stages = listener.stages(passSpan.id)
    val runS = stages.map(_.runMs).sum / 1e3
    m ++= Seq(
      "job.tasks" -> stages.map(_.tasks).sum.toDouble,
      "job.executor_run_s" -> runS,
      "job.executor_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "job.gc_s" -> stages.map(_.gcMs).sum / 1e3,
      "job.shuffle_write_mb" -> stages.map(_.shuffleWriteBytes).sum / 1e6,
      "job.spill_mb" -> stages.map(_.spillBytes).sum / 1e6,
      "job.max_task_s" -> (if (stages.isEmpty) 0.0 else stages.map(_.maxTaskMs).max / 1e3),
      "job.core_util" -> runS / (untraced * w.nproc),
      "trace.overhead_frac" -> (median(passSpans.map(_._1.dur / 1e9)) / untraced - 1))
    val submit = listener.jobSubmit.getOrElse(passSpan.id, 0L)
    val scanStage = stages.sortBy(_.stageId).headOption
    m += "sources.first_task_s" -> scanStage.map(s => (s.firstTaskEnd - submit) / 1e3).getOrElse(Double.NaN)

    val (planS, parts) = sp("sources.plan")(reps(5)(plan(w, conf, dump)))._1
    m ++= Seq("sources.plan.s" -> planS, "sources.plan.partitions" -> parts.size.toDouble)

    val ((decodeS, bytes), _) = sp("sources.decode")(reps(1)(decode(conf, dump)))
    val mb = bytes.length / 1e6
    m ++= Seq("sources.decode.s" -> decodeS, "sources.decode.mb_per_s" -> mb / decodeS)

    val ((scanS, counters), _) = sp("sources.scan")(reps(3) {
      val it = iterator(bytes, needText = false)
      try { it.foreach(_ => ()); (it.pagesRead, it.revisionsRead, it.pagesSkipped) } finally it.close()
    })
    val ((parseS, ps), _) = sp("sources.parse")(reps(3)(pairs(bytes)))
    m ++= Seq(
      "sources.scan.mb_per_s" -> mb / scanS,
      "sources.parse.mb_per_s" -> mb / parseS,
      "sources.pages" -> counters._1.toDouble,
      "sources.revisions" -> counters._2.toDouble,
      "sources.pages_skipped" -> counters._3.toDouble)

    // median of three passes: the first fills this thread's token
    // dictionary, as the set-up passes filled the executor threads'
    val ((diffS, diff), _) = sp("functions.diff")(reps(3)(diffCounts(ps, parallel = false)))
    m ++= Seq(
      "functions.diff.s" -> diffS,
      "functions.diff.revisions_per_s" -> ps.length / diffS,
      "functions.diff.ops" -> diff.ops.toDouble,
      "functions.diff.op_mb" -> diff.opBytes / 1e6)

    val (noopS, _) = sp("functions.pipeline_noop")(reps(2) {
      GraftFunctions.diffdb(w.read(spark, dump)).write.format("noop").mode("overwrite").save()
    })._1
    m += "functions.pipeline_noop.s" -> noopS

    val db = GraftFunctions.diffdb(w.read(spark, dump)).persist(StorageLevel.MEMORY_AND_DISK)
    db.write.format("noop").mode("overwrite").save()
    val sinkDir = new File(out, "sink")
    val sinkRuns = (0 until 2).map { _ =>
      Main.deleteTree(sinkDir)
      val (_, s) = sp("functions.sink")(GraftFunctions.writeDiffdb(db, sinkDir.getPath))
      ListenerBusBridge.flush(sc, 60000L)
      s
    }
    val sinkSpan = sinkRuns.minBy(_.dur)
    val sinkStages = listener.stages(sinkSpan.id)
    val writer = sinkStages.filter(_.shuffleReadRecords > 0).sortBy(_.stageId).lastOption
    val sinkFiles = Main.dataFiles(sinkDir)
    m ++= Seq(
      "functions.sink.s" -> median(sinkRuns.map(_.dur / 1e9)),
      "functions.sink.files" -> sinkFiles.size.toDouble,
      "functions.sink.mb" -> sinkFiles.map(_.length).sum / 1e6,
      "functions.sink.writer_tasks" -> writer.map(_.tasksWithShuffleRows.toDouble).getOrElse(0.0),
      "functions.sink.max_task_s" -> writer.map(_.maxShuffleTaskMs / 1e3).getOrElse(0.0))
    val sinkCoreS = sinkStages.map(_.runMs).sum / 1e3
    db.unpersist(blocking = true)
    Main.deleteTree(sinkDir)

    // layer core-seconds against the executor time of one e2e pass
    val layerCoreS = decodeS + parseS + diffS + sinkCoreS
    m += "trace.unattributed_frac" -> (1.0 - layerCoreS / runS)
    sc.removeSparkListener(listener)

    // exact-count cross-checks, reported beside the metrics
    m ++= Seq(
      "check.dsv2_revisions" -> dsv2.getOrElse("revisionsRead", -1L).toDouble,
      "check.dsv2_pages" -> dsv2.getOrElse("pagesRead", -1L).toDouble,
      "check.dsv2_pages_skipped" -> dsv2.getOrElse("pagesSkipped", -1L).toDouble,
      "check.sink_core_s" -> sinkCoreS,
      "check.e2e_wall_s" -> wall,
      "check.untraced_wall_s" -> untraced,
      "check.diff_kernel_errors" -> diff.errors.toDouble)
    m.toSeq
  }
}
