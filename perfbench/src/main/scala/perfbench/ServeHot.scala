package perfbench

import java.nio.file.Path
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

import graft.tsdb.{StoreSettings, TimeSeriesStore}

/** `serve_hot`: the reference's request shape (perf/PerfTest.jmx) as a
  * closed loop — 1 writer sending 200 tags × 10 samples per write and 2
  * readers each reading 1 tag over a 20 ms window of recently acknowledged
  * data. As in PerfTest.jmx, a write's 10 samples lie 1,000 ms apart, each
  * write starts 10,000 ms after the previous one, and no write touches
  * samples another wrote. Callers of the library and of the REST facade
  * each wait for their reply, hence the closed loop. Reads touch only the
  * newest two 120,000 ms partitions (≤ 400 tag files + 64 L0 files, far
  * below the point-read cache's 4,096 files and 128 MiB), so only the write
  * path and the serving fast path do work; Spark runs only when a read
  * falls back from the fast path. Every write invalidates the serving
  * index, so a read gain that costs writes, or the reverse, shows.
  */
object ServeHot {
  val Tags = 200
  val PerTag = 10
  /** PerfTest.jmx's sample step and per-loop time counter increment. */
  val SampleMs = 1000L
  val LoopMs = 10000L
  val Width = 120000L
  val Base: Long = 14166666L * Width
  /** Obsolete-file grace. Readers here run concurrently with inline L0
    * flushes; the store's contract is that a grace above the slowest read
    * keeps their listings valid (with the default of 0, a read that falls
    * back to Spark while a flush retires the L0 files it listed fails with
    * FILE_NOT_EXIST: twice in ~580,000 reads of one run). 10 s, as in the
    * engine's concurrent-writer example.
    */
  val GraceMs = 10000L
  /** Readers read one of the newest `RecentWrites` acknowledged writes. */
  val RecentWrites = 16
  val WarmWrites = 32
  val WarmReads = 1000
  val WarmReadsLast = 100000
  val Readers = 2
  val SetupReps = 3
  /** The writer's share of a run is a fixed number of writes, 8 per
    * `--seconds` rounded up to whole 64-write L0 flush periods, so every
    * run of one length does the same writes and the same inline flushes
    * (128 writes and 2 flushes at 15 s: ~15 s of writing on a 4-core host,
    * where each flush stalls the writer for ~7 s).
    */
  def timedWrites(seconds: Int): Int = 64 * math.max(1, math.ceil(seconds * 8 / 64.0).toInt)
  val tagNames: IndexedSeq[String] = (0 until Tags).map(i => f"tag-$i%03d")

  /** The whole write sequence of a run, fixed by the seed. */
  final class Schedule(seed: Long) {
    private val pool = Main.valuePool(seed)

    def value(write: Int, tag: Int, j: Int): String =
      pool((Main.mix(seed ^ (write.toLong << 20) ^ (tag.toLong << 4) ^ j) & 0xFFFF).toInt)

    def ts(write: Int, j: Int): Long = Base + write * LoopMs + j * SampleMs

    def batch(i: Int): Map[String, Map[Long, String]] =
      tagNames.indices.map { t =>
        tagNames(t) -> (0 until PerTag).map(j => ts(i, j) -> value(i, t, j)).toMap
      }.toMap
  }

  def userBytes(b: Map[String, Map[Long, String]]): Long =
    b.iterator.map { case (t, m) => m.valuesIterator.map(v => t.length + 8L + v.length).sum }.sum

  /** Per reader / writer thread: latencies split by traced or not. */
  final class Lane {
    val lat: Array[Lat] = Array(new Lat, new Lat)
    val afterWrite = new Lat
    val steady = new Lat
    var samples: Array[Long] = Array(0L, 0L)
    var flushCalls = 0L
    var flushNs = 0L
    var ioBytes = 0L
    var ioUserBytes = 0L
  }

  def run(spark: SparkSession, o: Main.Opts, tracer: Tracer, layers: Option[Layers]): Outcome = {
    val out = new Outcome
    val nWrites = WarmWrites + timedWrites(o.seconds)
    val sched = new Schedule(o.seed)
    val batches = Array.tabulate(nWrites)(sched.batch)
    val batchBytes = batches.map(userBytes)
    val acked = new AtomicInteger(0)
    val lastReadAck = new AtomicInteger(-1)

    def read(store: TimeSeriesStore, rng: SplittableRandom, lane: Lane): Unit = {
      val a = acked.get
      if (a == 0) return
      val w = a - 1 - rng.nextInt(math.min(RecentWrites, a))
      val t = rng.nextInt(Tags)
      val j = rng.nextInt(PerTag)
      val at = sched.ts(w, j)
      val traced = tracer.on
      val afterWrite = lastReadAck.getAndSet(a) != a
      val t0 = System.nanoTime()
      val got =
        try Right(tracer.span("tsdb.read")(store.readData(Map(tagNames(t) -> (at - 10, at + 10)))))
        catch { case e: Exception => Left(e) }
      val dt = System.nanoTime() - t0
      out.synchronized(out.attempted += 1)
      lane.lat(if (traced) 1 else 0).add(dt)
      if (traced) (if (afterWrite) lane.afterWrite else lane.steady).add(dt)
      got match {
        case Left(e) => out.fail(s"read ${tagNames(t)}@$at: $e")
        case Right(m) =>
          val want = Map(at -> sched.value(w, t, j))
          if (m.keySet != Set(tagNames(t)) || m(tagNames(t)) != want)
            out.fail(s"read ${tagNames(t)}@$at: got ${m.get(tagNames(t))}, want $want (acked $a)")
      }
    }

    def write(store: TimeSeriesStore, i: Int, lane: Lane): Unit = {
      val traced = tracer.on
      val l0Before = if (traced) Main.l0Files(store) else 0
      val io0 = if (traced) Proc.wchar() else 0L
      val t0 = System.nanoTime()
      val ok =
        try { tracer.span("tsdb.write")(store.write(batches(i))); true }
        catch { case e: Exception => out.fail(s"write $i: $e"); false }
      val dt = System.nanoTime() - t0
      out.synchronized(out.attempted += 1)
      if (ok) {
        acked.set(i + 1)
        lane.lat(if (traced) 1 else 0).add(dt)
        lane.samples(if (traced) 1 else 0) += batches(i).valuesIterator.map(_.size).sum
        if (traced) {
          lane.ioBytes += Proc.wchar() - io0
          lane.ioUserBytes += batchBytes(i)
          if (Main.l0Files(store) < l0Before) { lane.flushCalls += 1; lane.flushNs += dt }
        }
      }
    }

    // ---- set-up, repeated: open a store, replay the warm-up writes, warm the readers
    var store: TimeSeriesStore = null
    val setupTimes = (0 until SetupReps).map { rep =>
      if (store != null) Main.deleteTree(Path.of(store.rootDir))
      acked.set(0)
      val t0 = System.nanoTime()
      store = new TimeSeriesStore(spark, o.workDir.resolve(s"serve-$rep").toString,
        StoreSettings(partitionWidth = Width), obsoleteGraceMs = GraceMs)
      store.initialize()
      val lane = new Lane
      (0 until WarmWrites).foreach(write(store, _, lane))
      val rng = new SplittableRandom(o.seed + rep)
      // the last set-up also brings the read path to compiled steady state
      (0 until (if (rep == SetupReps - 1) WarmReadsLast else WarmReads))
        .foreach(_ => read(store, rng, lane))
      (System.nanoTime() - t0) / 1e9
    }
    out.e2e("setup_s") = Main.median(setupTimes)
    out.notes += f"setup reps (s): ${setupTimes.map(t => f"$t%.3f").mkString(" ")}"

    // ---- timed closed loop: readers run while the writer does its writes
    @volatile var stop = false
    val writer = new Lane
    val readers = Array.fill(Readers)(new Lane)
    val writerThread = new Thread(() => {
      try (WarmWrites until nWrites).foreach(write(store, _, writer))
      finally stop = true
    })
    val readerThreads = readers.indices.map { r =>
      new Thread(() => {
        val rng = new SplittableRandom(o.seed * 7919 + r)
        while (!stop) read(store, rng, readers(r))
      })
    }
    val sliceNs = Array(0L, 0L)
    layers.foreach(_.begin())
    readerThreads.foreach(_.start())
    writerThread.start()
    var sliceStart = System.nanoTime()
    // traced runs alternate 1 s untraced / traced slices so both see the
    // same store state; the difference is the tracing overhead
    while (writerThread.isAlive) {
      writerThread.join(1000L)
      val now = System.nanoTime()
      val was = tracer.on
      sliceNs(if (was) 1 else 0) += now - sliceStart
      sliceStart = now
      layers.foreach(_.endSlice(was))
      if (o.trace) tracer.on = !was
    }
    readerThreads.foreach(_.join())
    tracer.on = false
    layers.foreach(_.endSlice(false))

    // ---- results: retire the files still inside their grace, so the
    // bytes on disk are the live store's whatever the run's timing was
    store.gcSweep(force = true)
    val (bytes, files) = Main.diskUsage(Path.of(store.rootDir))
    val userTotal = batchBytes.take(acked.get).sum
    def e2eOf(mode: Int): Map[String, Double] = {
      val rl = Lat.merge(readers.map(_.lat(mode)))
      val secs = sliceNs(mode) / 1e9
      Map(
        "write_samples_per_s" -> writer.samples(mode) / secs,
        "write_p50_ms" -> writer.lat(mode).pctMs(0.50),
        "write_p99_ms" -> writer.lat(mode).pctMs(0.99),
        "read_ops_per_s" -> rl.count / secs,
        "read_p50_ms" -> rl.pctMs(0.50),
        "read_p99_ms" -> rl.pctMs(0.99),
        "read_tail_ms" -> rl.pctMs(0.999))
    }
    val plain = e2eOf(0)
    out.e2e ++= plain -- Seq("write_p99_ms", "read_p99_ms")
    out.e2e("store_bytes_per_user_byte") = bytes.toDouble / userTotal
    out.notes += s"writes ${writer.lat(0).count} untraced / ${writer.lat(1).count} traced, " +
      s"reads ${readers.map(_.lat(0).count).sum} / ${readers.map(_.lat(1).count).sum}, " +
      s"store $files files $bytes bytes"
    out.layer("tsdb.write.p99_ms") = plain("write_p99_ms")
    out.layer("tsdb.read.p99_ms") = plain("read_p99_ms")
    if (o.trace) {
      val traced = e2eOf(1)
      traced.foreach { case (k, v) => out.layer(s"trace_overhead.$k") = v - plain(k) }
      out.layer("tsdb.write.p99_ms") = traced("write_p99_ms")
      out.layer("tsdb.read.p99_ms") = traced("read_p99_ms")
      layers.foreach(Main.reportLayers(out, tracer, _))
      out.layer("tsdb.write.flush_calls") = writer.flushCalls.toDouble
      out.layer("tsdb.write.flush_ms") = writer.flushNs / 1e6
      out.layer("tsdb.write.io_bytes_per_user_byte") =
        writer.ioBytes.toDouble / math.max(1L, writer.ioUserBytes)
      out.layer("tsdb.read.after_write_p50_ms") = Lat.merge(readers.map(_.afterWrite)).pctMs(0.5)
      out.layer("tsdb.read.steady_p50_ms") = Lat.merge(readers.map(_.steady)).pctMs(0.5)
      out.layer("tsdb.read.store_files") = files.toDouble
    }
    out
  }
}
