package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call. `parent` is 0 for a root span; every span under one
  * root shares the root's `trace` id. Times are µs since the epoch.
  */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    startUs: Long, endUs: Long)

/** In-memory span recorder wrapped around calls into the engine's public
  * API. While `on`, each span also tags the Spark jobs its thread submits
  * with the job group `span-<id>`, which is how job and stage events are
  * linked back to the call that caused them. While off, `span` only runs
  * its body.
  */
final class Tracer(spark: SparkSession) {
  @volatile var on: Boolean = false
  private val ids = new AtomicLong(1L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val epochUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()

  def nowUs: Long = epochUs + (System.nanoTime() - baseNs) / 1000L

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val outer = open.get
      val id = ids.getAndIncrement()
      val (parent, trace) = outer match {
        case p :: _ => (p.id, p.trace)
        case Nil => (0L, id)
      }
      val sc = spark.sparkContext
      val prevGroup = sc.getLocalProperty(Tracer.JobGroup)
      sc.setLocalProperty(Tracer.JobGroup, s"span-$id")
      val start = nowUs
      open.set(Span(id, parent, trace, name, start, 0L) :: outer)
      try body
      finally {
        spans.add(Span(id, parent, trace, name, start, nowUs))
        open.set(outer)
        sc.setLocalProperty(Tracer.JobGroup, prevGroup)
      }
    }

  def recorded: Seq[Span] = spans.asScala.toSeq

  /** Adds job and stage spans, as children of the span whose group
    * submitted them, to the recorded set.
    */
  def linkSpark(layers: SparkLayers): Unit = {
    val traceOf = recorded.map(s => s.id -> s.trace).toMap
    val stageTimes = layers.stageTimes
    layers.jobList.foreach { j =>
      Tracer.spanIdOf(j.group).flatMap(p => traceOf.get(p).map(p -> _)).foreach {
        case (parent, trace) =>
          val jid = ids.getAndIncrement()
          spans.add(Span(jid, parent, trace, "spark.job", j.startMs * 1000L,
            math.max(j.startMs, j.endMs) * 1000L))
          j.stages.flatMap(stageTimes.get).foreach { case (s0, s1) =>
            spans.add(Span(ids.getAndIncrement(), jid, trace, "spark.stage",
              s0 * 1000L, math.max(s0, s1) * 1000L))
          }
      }
    }
  }

  /** Writes every span as one JSON object per line. */
  def dump(file: Path): Unit = {
    Files.createDirectories(file.getParent)
    val w = Files.newBufferedWriter(file, StandardCharsets.UTF_8)
    try recorded.sortBy(_.startUs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},""" +
        s""""name":"${s.name}","start_us":${s.startUs},"end_us":${s.endUs}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  val JobGroup = "spark.jobGroup.id"

  def spanIdOf(group: String): Option[Long] =
    Option(group).filter(_.startsWith("span-")).map(_.substring(5).toLong)

  /** Per span name: (calls, busy ms, self ms). Self time is the span's
    * duration minus the part of it that its children cover.
    */
  def layerTimes(spans: Seq[Span]): Map[String, (Long, Double, Double)] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      var busy = 0L
      var self = 0L
      ss.foreach { s =>
        val d = s.endUs - s.startUs
        busy += d
        self += d - covered(s, kids.getOrElse(s.id, Nil))
      }
      name -> ((ss.size.toLong, busy / 1000.0, self / 1000.0))
    }
  }

  private def covered(s: Span, children: Seq[Span]): Long = {
    var total = 0L
    var reach = s.startUs
    children.map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { total += b - from; reach = b }
      }
    total
  }
}

/** Spark job, stage and task totals from the public listener API. */
final class SparkLayers extends SparkListener {
  final class Job(val group: String, val startMs: Long, val stages: Seq[Int]) {
    @volatile var endMs: Long = startMs
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val stageSpan = mutable.HashMap.empty[Int, (Long, Long)]
  private val t = mutable.LinkedHashMap(
    "spark.jobs" -> 0.0, "spark.stages" -> 0.0, "spark.tasks" -> 0.0,
    "spark.task_run_ms" -> 0.0, "spark.task_cpu_ms" -> 0.0,
    "spark.task_gc_ms" -> 0.0, "spark.sched_delay_ms" -> 0.0,
    "spark.shuffle_read_bytes" -> 0.0, "spark.shuffle_write_bytes" -> 0.0,
    "spark.spill_bytes" -> 0.0)

  private def add(k: String, v: Double): Unit = t(k) = t(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty(Tracer.JobGroup)).orNull
    jobs(e.jobId) = new Job(group, e.time, e.stageIds)
    add("spark.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val s0 = stageSubmit.getOrElse(id, 0L)
    stageSpan(id) = (s0, e.stageInfo.completionTime.getOrElse(s0))
    add("spark.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("spark.task_run_ms", m.executorRunTime.toDouble)
      add("spark.task_cpu_ms", m.executorCpuTime / 1e6)
      add("spark.task_gc_ms", m.jvmGCTime.toDouble)
      add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
    stageSubmit.get(e.stageId).foreach { s =>
      add("spark.sched_delay_ms", math.max(0L, e.taskInfo.launchTime - s).toDouble)
    }
  }

  def totals: Map[String, Double] = synchronized(t.toMap)
  def jobList: Seq[Job] = synchronized(jobs.values.toSeq)
  def stageTimes: Map[Int, (Long, Long)] = synchronized(stageSpan.toMap)

  /** Jobs submitted under the job group of one of `spanIds`. */
  def jobsUnder(spanIds: Set[Long]): Int =
    jobList.count(j => Tracer.spanIdOf(j.group).exists(spanIds.contains))
}

/** Catalyst phase times per executed Dataset action. */
final class CatalystLayers extends QueryExecutionListener {
  private val t = mutable.LinkedHashMap("catalyst.analysis_ms" -> 0.0,
    "catalyst.optimization_ms" -> 0.0, "catalyst.planning_ms" -> 0.0,
    "catalyst.executions" -> 0.0)

  private def record(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(phase: String): Double = p.get(phase).map(_.durationMs.toDouble).getOrElse(0.0)
    t("catalyst.analysis_ms") += ms("analysis")
    t("catalyst.optimization_ms") += ms("optimization")
    t("catalyst.planning_ms") += ms("planning")
    t("catalyst.executions") += 1
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  def totals: Map[String, Double] = synchronized(t.toMap)
}

/** Cumulative counters of every layer the benchmark reads from outside.
  * Traced runs take a snapshot at each switch between traced and untraced
  * slices and credit the difference to the slice that just ended.
  */
final class Layers(spark: SparkSession) {
  val sparkLayers = new SparkLayers
  val catalyst = new CatalystLayers
  spark.sparkContext.addSparkListener(sparkLayers)
  spark.listenerManager.register(catalyst)

  def snapshot(): Map[String, Double] = {
    BenchBus.drain(spark.sparkContext)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble
    val classes = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE
    // the histogram keeps a sample, not a sum: count × sample mean is an
    // estimate of the bytes generated
    val bytecodeKb = classes.getCount * classes.getSnapshot.getMean / 1024.0
    val (hits, misses) = graft.tsdb.FooterCache.counts
    sparkLayers.totals ++ catalyst.totals ++ Map(
      "codegen.compiles" -> compiles,
      "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6,
      "codegen.bytecode_kb" -> bytecodeKb,
      "sources.footer_hits" -> hits.toDouble,
      "sources.footer_misses" -> misses.toDouble)
  }

  private var last = Map.empty[String, Double]
  private val traced = mutable.HashMap.empty[String, Double]

  def begin(): Unit = last = snapshot()

  /** Ends a slice: credits its counter deltas when it was traced. */
  def endSlice(wasTraced: Boolean): Unit = {
    val now = snapshot()
    if (wasTraced) now.foreach { case (k, v) =>
      traced(k) = traced.getOrElse(k, 0.0) + v - last.getOrElse(k, 0.0)
    }
    last = now
  }

  def tracedTotals: Map[String, Double] = traced.toMap

  /** RDD blocks and their memory still held by the block manager. */
  def blocksLeft(): (Double, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.numCachedPartitions.toDouble).sum,
      infos.map(_.memSize.toDouble).sum / (1 << 20))
  }
}

/** Process counters from /proc. */
object Proc {
  private def field(file: String, key: String): Option[Long] =
    try Files.readAllLines(Paths.get(file)).asScala.collectFirst {
      case l if l.startsWith(key) => l.substring(key.length).trim.split("\\s+")(0).toLong
    } catch { case _: java.io.IOException => None }

  /** Bytes this process has passed to write(2) and friends. */
  def wchar(): Long = field("/proc/self/io", "wchar:").getOrElse(0L)

  /** Peak resident set (VmHWM) in MiB. */
  def peakRssMb(): Double = field("/proc/self/status", "VmHWM:").getOrElse(0L) / 1024.0
}

/** Latencies of one kind of call, in nanoseconds; single writer. */
final class Lat {
  private var a = new Array[Long](4096)
  private var n = 0

  def add(ns: Long): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = ns
    n += 1
  }

  def ++=(o: Lat): Unit = (0 until o.n).foreach(i => add(o.a(i)))
  def count: Int = n

  /** Nearest-rank percentile in ms; 0 when empty. */
  def pctMs(p: Double): Double =
    if (n == 0) 0.0
    else {
      val s = java.util.Arrays.copyOf(a, n)
      java.util.Arrays.sort(s)
      s(math.max(0, math.ceil(p * n).toInt - 1)) / 1e6
    }
}

object Lat {
  def merge(ls: Iterable[Lat]): Lat = { val m = new Lat; ls.foreach(m ++= _); m }
}
