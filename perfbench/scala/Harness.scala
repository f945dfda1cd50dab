package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Ckpt, CorpusPipeline, HarnessLog, Pipeline, Tables}

/** JVM side of the benchmark: one process runs one workload.
  *
  * It builds the harness session, runs one cold iteration and then warm
  * iterations until both the iteration minimum and the time budget are
  * reached, and writes everything it measured as one JSON document at exit.
  * Spans (iterations and the pipeline calls inside them) are kept in
  * memory; with `--trace 1` a SparkListener also records every job and
  * stage, and the Python side attributes them to spans by time window.
  * Nothing here changes how graft runs.
  *
  * Usage: `Harness --pipeline dwh|corpus|setup|train --in <dir> --work <dir>
  *   --out <file> --seconds <s> --min-iters <n> --trace <0|1> --cpus <n>
  *   [--base-zones <dir>]`. `setup` only builds the session; `train` is the
  * build's run (see perfbench/build.py).
  */
object Harness {

  // ---- wall clock: epoch milliseconds with sub-millisecond digits ----
  private val epoch0Ms = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0Ms + (System.nanoTime() - nano0) / 1e6

  // ---- minimal JSON writer (maps, sequences, strings, numbers) ----
  def js(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(js).mkString("[", ",", "]")
    case other => js(other.toString)
  }

  /** Records jobs and stages with their epoch-ms times. Events arrive on
    * the listener bus thread; the bus is drained before the recorder is
    * detached at the end of each traced iteration. */
  final class Recorder extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    private val taskMs =
      new java.util.concurrent.ConcurrentHashMap[(Int, Int), java.util.List[java.lang.Long]]()

    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

    override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time)

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { t0 =>
        jobs.add(Map("job" -> e.jobId, "submit_ms" -> t0.longValue, "end_ms" -> e.time))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null)
        taskMs.computeIfAbsent((e.stageId, e.stageAttemptId),
          _ => java.util.Collections.synchronizedList(new java.util.ArrayList[java.lang.Long]()))
          .add(e.taskInfo.duration)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val durs = Option(taskMs.remove((si.stageId, si.attemptNumber())))
        .map(_.asScala.map(_.longValue).sorted.toVector).getOrElse(Vector.empty)
      stages.add(Map(
        "stage" -> si.stageId,
        "submit_ms" -> si.submissionTime.getOrElse(-1L),
        "end_ms" -> si.completionTime.getOrElse(-1L),
        "tasks" -> si.numTasks,
        "run_ms" -> (if (m == null) 0L else m.executorRunTime),
        "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
        "shuffle_read_b" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
        "shuffle_write_b" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "shuffle_records" -> (if (m == null) 0L else m.shuffleWriteMetrics.recordsWritten),
        "spill_b" -> (if (m == null) 0L else m.diskBytesSpilled),
        "input_b" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
        "output_b" -> (if (m == null) 0L else m.outputMetrics.bytesWritten),
        "task_max_ms" -> durs.lastOption.getOrElse(0L),
        "task_median_ms" -> (if (durs.isEmpty) 0L else durs(durs.size / 2))))
    }
  }

  /** Process-wide counters read at span boundaries. */
  private def jvmCounters(): Map[String, Double] = {
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime.toDouble).getOrElse(0.0)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum.toDouble
    // the histogram's reservoir keeps every sample up to 1,028 compiles, so
    // the sum is exact for runs of this size (~250 compiles)
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    Map("jit_ms" -> jit, "gc_ms" -> gc, "codegen_compiles" -> h.getCount.toDouble,
      "codegen_ms" -> h.getSnapshot.getValues.map(_.toDouble).sum)
  }

  private def vmHwmKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    catch { case _: Exception => -1L }

  /** Data files under `root` modified at or after `sinceMs`. */
  private def filesWrittenSince(root: String, sinceMs: Double): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count { f =>
        Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
          !f.getFileName.toString.startsWith("_") &&
          Files.getLastModifiedTime(f).toMillis >= sinceMs.toLong
      }.toLong finally s.close()
    }
  }

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.BareLocalFileSystem].getName)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256KB")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    HarnessLog.quietBudgetedWindowWarn()
    spark
  }

  /** Copies the tree under `from` to `to` (which must not exist yet). */
  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { f =>
      val t = Paths.get(to).resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }

  private def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach(f => Files.delete(f)) finally s.close()
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val spark = session(a("cpus").toInt, work)
    val readyMs = nowMs()
    val pipeline = a("pipeline")
    val inDir = a.getOrElse("in", "")
    val seconds = a.getOrElse("seconds", "0").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val minIters = a.getOrElse("min-iters", "0").toInt
    val baseZones = a.getOrElse("base-zones", "")
    val recorder = new Recorder
    val calls = Vector.newBuilder[Map[String, Any]]
    val iterations = Vector.newBuilder[Map[String, Any]]
    var failures = Vector.empty[String]

    def span(name: String, iter: Int)(body: => DataFrame): Seq[Map[String, Any]] = {
      val t0 = nowMs()
      val report = body
      calls += Map("name" -> name, "iter" -> iter, "start_ms" -> t0, "end_ms" -> nowMs())
      report.collect().toSeq.map(r => Map("stage" -> r.getString(0), "rows" -> r.getLong(1),
        "seconds" -> r.getDouble(2)))
    }
    def baseLoad(zones: String) =
      Pipeline.runAll(spark, s"$inDir/base", zones, "run_base", "2026-01-01 00:00:00")
    def deltaLoad(zones: String, iter: Int) =
      span("Pipeline.runAll", iter)(
        Pipeline.runAll(spark, s"$inDir/delta", zones, "run_delta", "2026-01-02 00:00:00"))
    def curate(zones: String, iter: Int) =
      span("CorpusPipeline.runAll", iter)(
        CorpusPipeline.runAll(spark, Tables.documents(spark, s"$inDir/corpus"), zones,
          "corpus_run", capPerSource = 120, numShards = 4,
          spanScrub = Some(20), bpeMerges = Some(32), pplBuckets = Some(3)))
    // Every iteration starts from the same zone state, in its own
    // directory prepared before the timer starts: the DWH pipeline loads
    // the delta day on top of a copy of the base day's zones, the corpus
    // pipeline writes into empty zones.
    val zonesOf = (i: Int) => s"$work/zones-$i"
    val prepare: Int => Unit = pipeline match {
      case "dwh" => i => copyTree(baseZones, zonesOf(i))
      case _ => _ => ()
    }
    val iteration: Int => Seq[Map[String, Any]] = pipeline match {
      case "dwh" => i => deltaLoad(zonesOf(i), i)
      case "corpus" => i => curate(zonesOf(i), i)
      case "setup" => _ => Nil
      // the build's training run: writes the base zones every DWH run
      // copies, and runs both pipelines once so the class-data archive
      // holds the classes they load
      case "train" => i =>
        baseLoad(baseZones).collect()
        curate(zonesOf(i), i)
      case other => throw new IllegalArgumentException(s"unknown pipeline $other")
    }

    // iteration 0 is the cold one; warm ones follow while the budget lasts
    val loopT0 = nowMs()
    var i = 0
    while (i < minIters || (i > 0 && nowMs() - loopT0 < seconds * 1000.0)) {
      // traced runs leave the recorder off on the first warm iteration, put
      // it on iterations 2, 5, 6, 9, ... and leave it off on 3, 4, 7, 8, ...:
      // the ABBA order cancels the warm-up drift, so the recorder's own cost
      // shows as the difference of the two groups' medians
      val traced = trace && i >= 2 && Set(0, 3)((i - 2) % 4)
      prepare(i)
      if (traced) spark.sparkContext.addSparkListener(recorder)
      val c0 = jvmCounters()
      val t0 = nowMs()
      val report =
        try Some(iteration(i))
        catch { case e: Exception =>
          failures :+= s"iteration $i: ${e.getClass.getName}: ${e.getMessage}".take(500)
          None
        }
      val t1 = nowMs()
      val c1 = jvmCounters()
      val st = spark.sparkContext.getRDDStorageInfo
      if (traced) {
        org.apache.spark.BusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(recorder)
      }
      iterations += Map(
        "iter" -> i, "start_ms" -> t0, "end_ms" -> t1, "ok" -> report.isDefined,
        "traced" -> traced,
        "jvm" -> c1.map { case (k, v) => k -> (v - c0(k)) },
        "ckpt_bytes" -> st.map(r => r.memSize + r.diskSize).sum,
        "ckpt_rdds" -> st.length,
        "files_written" -> filesWrittenSince(zonesOf(i), t0),
        "report" -> report.getOrElse(Nil))
      Ckpt.releaseTransient()
      // only the last iteration's zones are kept, for the output checks
      if (i > 0) deleteTree(zonesOf(i - 1))
      i += 1
    }
    val hwm = vmHwmKb()
    spark.stop()
    Files.writeString(Paths.get(a("out")), js(Map(
      "ready_ms" -> readyMs,
      "vm_hwm_kb" -> hwm,
      "failures" -> failures,
      "zones" -> zonesOf(i - 1),
      "iterations" -> iterations.result(),
      "calls" -> calls.result(),
      "jobs" -> recorder.jobs.asScala.toVector,
      "stages" -> recorder.stages.asScala.toVector)))
  }
}
