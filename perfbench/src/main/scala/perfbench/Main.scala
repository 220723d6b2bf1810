package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload on one local Spark session.
  *
  * {{{
  *   perfbench.Main --workload serve_hot|tiering_cycle --seed N
  *                  --seconds S --trace 0|1 --work-dir DIR
  * }}}
  *
  * Prints one `name value unit` line per metric, then, as the last line,
  * `{"correct":…,"attempted":…,"failed":…,"metrics":{…}}`. With
  * `--trace 0` the metrics are the end-to-end set, measured with tracing
  * off; with `--trace 1` they are the per-layer set, taken from traced
  * slices of the run, plus the tracing overhead.
  */
object Main {
  /** End-to-end metrics, reported by every workload. `read_tail_ms` is a
    * tail read-latency percentile fixed per workload so that at least ten
    * reads lie beyond it (p99.9 of ~1 million reads on serve_hot, p95 of
    * 640 on tiering_cycle).
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "peak_rss_mb" -> "MiB",
    "write_samples_per_s" -> "1/s",
    "write_p50_ms" -> "ms",
    "read_ops_per_s" -> "1/s",
    "read_p50_ms" -> "ms",
    "read_tail_ms" -> "ms",
    "store_bytes_per_user_byte" -> "ratio")

  private val maintOps = Seq("purge_scan", "archive", "purge_ack", "compact")

  /** Per-layer metrics; a layer a workload does not reach reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "op_fail_share" -> "ratio",
    "tsdb.write.p99_ms" -> "ms",
    "tsdb.write.calls" -> "count",
    "tsdb.write.busy_ms" -> "ms",
    "tsdb.write.self_ms" -> "ms",
    "tsdb.write.flush_calls" -> "count",
    "tsdb.write.flush_ms" -> "ms",
    "tsdb.write.io_bytes_per_user_byte" -> "ratio",
    "tsdb.read.calls" -> "count",
    "tsdb.read.busy_ms" -> "ms",
    "tsdb.read.self_ms" -> "ms",
    "tsdb.read.after_write_p50_ms" -> "ms",
    "tsdb.read.steady_p50_ms" -> "ms",
    "tsdb.read.p99_ms" -> "ms",
    "tsdb.read.spark_jobs" -> "count",
    "tsdb.read.store_files" -> "count") ++
    maintOps.flatMap(op => Seq(
      s"tsdb.maint.$op.calls" -> "count",
      s"tsdb.maint.$op.busy_ms" -> "ms",
      s"tsdb.maint.$op.spark_jobs" -> "count")) ++ Seq(
    "tsdb.maint.self_ms" -> "ms",
    "tsdb.maint.bytes_rewritten" -> "bytes",
    "tsdb.maint.tier_samples_per_s" -> "1/s",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.task_run_ms" -> "ms",
    "spark.task_cpu_ms" -> "ms",
    "spark.task_gc_ms" -> "ms",
    "spark.sched_delay_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "catalyst.executions" -> "count",
    "codegen.compiles" -> "count",
    "codegen.compile_ms" -> "ms",
    "codegen.bytecode_kb" -> "KiB",
    "blockmgr.rdd_blocks_left" -> "count",
    "blockmgr.mem_mb_left" -> "MiB",
    "sources.footer_hits" -> "count",
    "sources.footer_misses" -> "count",
    "cycle0.store_files" -> "count",
    "cycle0.purged_partitions" -> "count",
    "cycle0.compacted_partitions" -> "count",
    "cycle0.spark_jobs" -> "count",
    "cycle0.codegen_compiles" -> "count",
    "trace.spans" -> "count") ++
    Seq("write_samples_per_s" -> "1/s", "write_p50_ms" -> "ms",
      "write_p99_ms" -> "ms", "read_ops_per_s" -> "1/s",
      "read_p50_ms" -> "ms", "read_tail_ms" -> "ms").map { case (m, u) =>
      s"trace_overhead.$m" -> u
    }

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, workDir: Path)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val opts = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", Paths.get(kv("work-dir")).toAbsolutePath)
    val run: (SparkSession, Opts, Tracer, Option[Layers]) => Outcome = opts.workload match {
      case "serve_hot" => ServeHot.run
      case "tiering_cycle" => TieringCycle.run
      case other =>
        System.err.println(s"unknown workload: $other")
        sys.exit(2)
    }
    Files.createDirectories(opts.workDir)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .config("spark.sql.shuffle.partitions", Runtime.getRuntime.availableProcessors())
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opts.workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", opts.workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark)
    val layers = if (opts.trace) Some(new Layers(spark)) else None
    val out =
      try run(spark, opts, tracer, layers)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          val o = new Outcome
          o.fail(s"run aborted: $e")
          o
      }
    out.e2e("setup_s") = sessionS + out.e2e.getOrElse("setup_s", 0.0)
    out.e2e("peak_rss_mb") = Proc.peakRssMb()
    if (opts.trace) {
      tracer.dump(opts.workDir.resolve(s"trace/${opts.workload}.spans.jsonl"))
      out.layer("trace.spans") = tracer.recorded.size.toDouble
    }
    out.layer("op_fail_share") = out.failed.toDouble / math.max(1L, out.attempted)
    spark.stop()
    emit(opts, out)
  }

  private def emit(opts: Opts, out: Outcome): Unit = {
    out.notes.foreach(n => println(s"# $n"))
    out.errors.foreach(e => println(s"# FAIL $e"))
    val (set, values) =
      if (opts.trace) (PerLayer, out.layer) else (EndToEnd, out.e2e)
    val missing = set.map(_._1).filterNot(values.contains)
    if (!opts.trace && missing.nonEmpty)
      out.fail(s"workload did not measure ${missing.mkString(", ")}")
    val metrics = set.map { case (name, unit) =>
      val v = values.getOrElse(name, 0.0)
      println(f"$name%-40s $v%s $unit")
      s""""$name":{"value":${num(v)},"unit":"$unit"}"""
    }
    val correct = out.failed == 0
    println(s"""{"correct":$correct,"attempted":${math.max(1L, out.attempted)},""" +
      s""""failed":${out.failed},"metrics":{${metrics.mkString(",")}}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  /** Per-layer metrics every traced run shares: calls, busy and self ms
    * and Spark jobs (by job group) per `tsdb.*` call, the layer counters
    * of the traced slices, and what the block manager still holds.
    */
  def reportLayers(out: Outcome, tracer: Tracer, layers: Layers): Unit = {
    val calls = tracer.recorded
    tracer.linkSpark(layers.sparkLayers)
    val times = Tracer.layerTimes(tracer.recorded)
    for ((name, (n, busy, self)) <- times if name.startsWith("tsdb.")) {
      out.layer(s"$name.calls") = n.toDouble
      out.layer(s"$name.busy_ms") = busy
      out.layer(s"$name.self_ms") = self
      out.layer(s"$name.spark_jobs") = layers.sparkLayers
        .jobsUnder(calls.filter(_.name == name).map(_.id).toSet).toDouble
    }
    out.layer("tsdb.maint.self_ms") =
      times.collect { case (n, (_, _, self)) if n.startsWith("tsdb.maint.") => self }.sum
    out.layer ++= layers.tracedTotals
    val (blocks, mb) = layers.blocksLeft()
    out.layer("blockmgr.rdd_blocks_left") = blocks
    out.layer("blockmgr.mem_mb_left") = mb
  }

  // ------------------------------------------------------------ helpers

  /** Bytes and regular files under `root`. */
  def diskUsage(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), p) => (b + Files.size(p), n + 1) }
      finally s.close()
    }

  /** Live files in the store's L0 (unflushed batch) tier: those on disk
    * minus those a flush retired but an obsolete-file grace still keeps
    * (listed in the store's GC ledger).
    */
  def l0Files(store: graft.tsdb.TimeSeriesStore): Int = {
    def list(dir: Path): Seq[Path] =
      if (!Files.isDirectory(dir)) Nil
      else {
        val s = Files.list(dir)
        try s.iterator().asScala.toSeq finally s.close()
      }
    val ns = Paths.get(store.namespaceRoot)
    val retired = list(ns.resolve("gc")).filter(_.toString.endsWith(".list"))
      .flatMap(e => Files.readAllLines(e).asScala).toSet
    list(ns.resolve("l0")).count(p => p.toString.endsWith(".parquet") &&
      !retired(p.toAbsolutePath.normalize.toString))
  }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** SplitMix64 finaliser: a stable hash for deterministic inputs. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** 65,536 sample values in the reference load generator's float shape. */
  def valuePool(seed: Long): Array[String] =
    Array.tabulate(1 << 16)(i => f"${(mix(seed * 31 + i) >>> 1) % 1000000 / 1000.0}%.3f")
}

/** What one workload run measured and checked. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val notes = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def fail(msg: String): Unit = synchronized {
    failed += 1
    if (errors.size < 10) errors += msg
  }
}
