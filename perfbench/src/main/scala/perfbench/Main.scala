package perfbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Try}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.functions.GraftFunctions

/** Benchmark JVM: one workload, one closed-loop client, `local[nproc]`.
  *
  *   perfbench.Main <workload> <inputDir> <outDir> <seconds> <trace 0|1> <nproc>
  *   perfbench.Main oracle-sql <file>
  *
  * Set-up is the session start plus the workload's untimed warm-up
  * passes (a fresh JVM compiles first); it ends when timing starts and
  * `setup_s` counts it from JVM start.
  * Untraced (trace 0): whole passes until `seconds` have elapsed, and
  * the median pass. Traced (trace 1): the per-layer run in [[Layers]].
  * A history run leaves its last written diffdb in `<outDir>/pass` and
  * the direct-kernel expectations in the result; a registry run leaves
  * every query's result from its first timed pass in
  * `<outDir>/check/<query>`.
  * run.py checks both. The result is `<outDir>/jvm_result.json`.
  * `oracle-sql` writes the registry's oracle SQL of the listed queries.
  */
object Main {
  /** Untimed passes over the dump before timing: the passes of a fresh
    * JVM keep getting faster for several passes (JIT compilation, and
    * the diff kernel's token dictionaries live on executor threads). */
  val WarmPasses = 4
  val MinPasses = 3
  /** Splits per core the history files are planned into. */
  val SplitsPerCore = 6

  /** A history dump, one bzip2 stream, through format("mediawiki") ->
    * diffdb -> writeDiffdb. */
  final case class History(inputs: File, nproc: Int) {
    val name = "history_bz2"
    val dump: File = new File(inputs, "dump.xml.bz2")
    def splitBytes(f: File): Long = math.max(1L, math.ceil(f.length.toDouble / (SplitsPerCore * nproc)).toLong)
    /** Reader options: bz2 splits below the program's 4-block default
      * are allowed so that the file yields several splits per core. */
    def options(f: File): Map[String, String] = Map("minSplitBytes" -> splitBytes(f).toString)

    def read(spark: SparkSession, f: File): DataFrame = {
      spark.conf.set("spark.sql.files.maxPartitionBytes", splitBytes(f).toString)
      spark.read.format("mediawiki").options(options(f)).load(f.getPath)
    }
    /** One pass: dump on disk -> written, committed diffdb. */
    def pass(spark: SparkSession, f: File, out: File): Unit =
      GraftFunctions.writeDiffdb(GraftFunctions.diffdb(read(spark, f)), out.getPath)
  }

  /** Registry queries over the parquet tables in `data`, one after the
    * other, each result collected to the client. */
  final case class Registry(data: File, nproc: Int) {
    val name = "registry_mix"
    def query(spark: SparkSession, q: String): DataFrame = SparkEntry.queries(q)(spark, data.getPath)
    def inputBytes: Long = Option(data.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet")).map(_.length).sum

    /** One pass over every query. */
    def pass(spark: SparkSession): Seq[Ran] = Registry.Queries.map { q =>
      val t0 = System.nanoTime()
      val r = Try { val df = query(spark, q); (df.schema, df.collect()) }
      Ran(q, secs(t0), r)
    }

    /** Each collected result written as parquet under `dir/<query>`,
      * for the output check. */
    def writeResults(spark: SparkSession, ran: Seq[Ran], dir: File): Unit = ran.foreach { r =>
      r.result.foreach { case (schema, rows) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).write.parquet(new File(dir, r.query).getPath)
      }
    }
  }

  /** One query run: seconds, and its schema and rows or its failure. */
  final case class Ran(query: String, seconds: Double, result: Try[(StructType, Array[Row])])

  def errors(ran: Seq[Ran]): Seq[(String, String)] = ran.collect { case Ran(q, _, Failure(e)) => q -> e.toString }

  object Registry {
    /** Run in this order: the rows whose `count()` plans drop the most
      * work (q1, q127, q131, q108), every row calling the U8 diff kernel
      * (q143, q146, q152), and the slowest rows of each operator family
      * (relational, text, vector, graph). */
    val Queries: Seq[String] = Seq(
      "q1_pricing_summary", "q3_top_orders", "q32_setops_all", "q127_profile", "q129_market_share",
      "q131_percentile_rank", "q76_bm25_retrieval", "q108_edit_verified", "q113_verified_clusters",
      "q143_diff_ops", "q146_diff_churn", "q152_diff_multi", "q149_lpa_communities", "q210_residual_ivfpq")
  }

  def session(nproc: Int, scratch: File): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(graft.plans.GraftExtensions)
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(scratch, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Parquet data files under a written directory. */
  def dataFiles(dir: File): Seq[File] =
    if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.flatMap(dataFiles)
    else if (dir.getName.startsWith("part-")) Seq(dir) else Nil

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Seconds since the JVM started. */
  def uptimeS(): Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Warm-up of a history session: untimed passes over the dump. */
  def warmHistory(spark: SparkSession, w: History, out: File): Unit = {
    val warmOut = new File(out, "warm")
    for (_ <- 0 until WarmPasses) {
      deleteTree(warmOut)
      w.pass(spark, w.dump, warmOut)
    }
    deleteTree(warmOut)
  }

  /** A history run: the result's entries and its context. */
  def history(spark: SparkSession, w: History, out: File, seconds: Double,
      traced: Boolean): (Seq[(String, Any)], ListMap[String, Any]) = {
    val dump = w.dump
    val passDir = new File(out, "pass")
    warmHistory(spark, w, out)
    val setupS = uptimeS()
    val partitions = Layers.plan(w, spark.sparkContext.hadoopConfiguration, dump).size

    val result = ArrayBuffer.empty[(String, Any)]
    if (!traced) {
      val walls = ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      while (walls.size < MinPasses || secs(t0) < seconds) {
        deleteTree(passDir)
        val tp = System.nanoTime()
        w.pass(spark, dump, passDir)
        walls += secs(tp)
      }
      val rss = vmHwmMb()
      val wall = median(walls.toSeq)
      val plainBytes = new File(w.inputs, "dump.xml").length.toDouble
      val outBytes = dataFiles(passDir).map(_.length).sum.toDouble
      result ++= Seq(
        "metrics" -> ListMap(
          "wall_s" -> wall,
          "input_mb_per_s" -> plainBytes / 1e6 / wall,
          "out_bytes_per_in_byte" -> outBytes / plainBytes,
          "peak_rss_mb" -> rss,
          "setup_s" -> setupS),
        "passes_s" -> walls.toSeq)
    } else {
      result += "metrics" -> ListMap(Layers.runHistory(spark, w, out, passDir): _*)
    }
    // direct-kernel expectations for the output check (untimed)
    val exp = Layers.expected(new File(w.inputs, "dump.xml"))
    result += "expected" -> ListMap("revisions" -> exp.revisions, "ops" -> exp.ops,
      "op_bytes" -> exp.opBytes, "kernel_errors" -> exp.errors)
    (result.toSeq, ListMap("setup_s" -> setupS, "partitions" -> partitions,
      "split_bytes" -> w.splitBytes(dump), "input_file_bytes" -> dump.length))
  }

  /** A registry run: the result's entries and its context. */
  def registry(spark: SparkSession, w: Registry, out: File, seconds: Double,
      traced: Boolean): (Seq[(String, Any)], ListMap[String, Any]) = {
    val tw = System.nanoTime()
    val warmErrors = errors(w.pass(spark))
    val warmS = secs(tw)
    val setupS = uptimeS()
    val inBytes = w.inputBytes.toDouble

    val result = ArrayBuffer.empty[(String, Any)]
    val t0 = System.nanoTime()
    val passes = ArrayBuffer(w.pass(spark))
    if (!traced) while (secs(t0) < seconds) passes += w.pass(spark)
    val rss = vmHwmMb()
    val walls = passes.map(_.map(_.seconds).sum).toSeq
    val checkDir = new File(out, "check")
    w.writeResults(spark, passes.head, checkDir)
    if (!traced) {
      val wall = median(walls)
      result ++= Seq(
        "metrics" -> ListMap(
          "wall_s" -> wall,
          "input_mb_per_s" -> inBytes / 1e6 / wall,
          "out_bytes_per_in_byte" -> dataFiles(checkDir).map(_.length).sum / inBytes,
          "peak_rss_mb" -> rss,
          "setup_s" -> setupS),
        "passes_s" -> walls)
    } else {
      val (m, ran) = Layers.runRegistry(spark, w, out, walls.head)
      passes += ran
      result += "metrics" -> ListMap(m: _*)
    }
    result ++= Seq(
      "queries" -> Registry.Queries,
      "query_s" -> ListMap(Registry.Queries.zipWithIndex.map { case (q, i) => q -> median(passes.map(_(i).seconds).toSeq) }: _*),
      "errors" -> ListMap((warmErrors ++ passes.flatMap(errors)).toMap.toSeq.sortBy(_._1): _*))
    (result.toSeq, ListMap("setup_s" -> setupS, "warm_s" -> warmS, "input_file_bytes" -> inBytes.toLong))
  }

  def main(args: Array[String]): Unit = {
    if (args.length == 2 && args(0) == "oracle-sql") {
      val sql = SparkEntry.oracleSql
      writeJson(new File(args(1)), ListMap(Registry.Queries.map(q => q -> sql(q)): _*))
      return
    }
    if (args.length != 6) {
      System.err.println("usage: perfbench.Main <workload> <inputDir> <outDir> <seconds> <trace 0|1> <nproc>\n" +
        "       perfbench.Main oracle-sql <file>")
      sys.exit(2)
    }
    val nproc = args(5).toInt
    val out = new File(args(2))
    val seconds = args(3).toDouble
    val traced = args(4) == "1"
    out.mkdirs()

    val spark = session(nproc, out)
    val sessionS = uptimeS()
    val (result, context) = args(0) match {
      case "history_bz2" => history(spark, History(new File(args(1)), nproc), out, seconds, traced)
      case "registry_mix" => registry(spark, Registry(new File(args(1)), nproc), out, seconds, traced)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val jvmArgs = scala.jdk.CollectionConverters.ListHasAsScala(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments).asScala
    val fullContext = context ++ ListMap("session_ready_s" -> sessionS, "spark_version" -> spark.version,
      "jvm_args" -> jvmArgs.filterNot(_.startsWith("--add-opens")).mkString(" "))
    spark.stop()
    writeJson(new File(out, "jvm_result.json"), ListMap(result :+ ("context" -> fullContext): _*))
  }

  def writeJson(f: File, v: Any): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(Json.write(v)) finally w.close()
  }
}
