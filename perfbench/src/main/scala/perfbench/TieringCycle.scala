package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.tsdb.{StoreSettings, TimeSeriesStore}

/** `tiering_cycle`: the reference's reason to exist — a hot tier that
  * ages out to a cold tier through enqueue → archive → ack — run
  * single-threaded on an injected `store.clock` so every count repeats
  * exactly for one seed.
  *
  * Set-up preloads 32 tags × 130 partitions (4,160 partition files, past
  * the 4,096-file point-read cache). Each cycle then ingests two new
  * partitions per tag plus late upserts into each tag's previous partition,
  * ages them past the threshold, runs `purgeScan` → `archiveToCold` →
  * `purgeAck` for every queued partition, and `compact`s the upserted
  * partitions. A point-read sweep spread uniformly over the whole hot ∪
  * cold history, so that those reads mostly miss the cache, runs in four
  * parts: after ingest, after the purge scan, after archive + ack, and
  * after compaction; spreading it over the cycle averages the reads over
  * the host's speed swings. This is
  * the workload that runs maintenance (with its Spark jobs) and
  * cache-missing reads, neither of which `serve_hot` reaches.
  */
object TieringCycle {
  val Tags = 32
  val Width = 120000L
  /** Samples per partition, `SpacingMs` apart. */
  val PerPartition = 20
  val SpacingMs = 6000L
  val PreloadPartitions = 130
  val NewPerCycle = 2
  val UpsertsPerTag = 10
  val PurgePerCycle: Int = Tags * NewPerCycle
  val ThresholdS = 60L
  val SweepReads = 320
  /** Tags whose whole history a reopened store must read back. */
  val ReopenTags = 4
  /** Timed cycles of a run: a fixed number, one per 8 s of `--seconds`
    * (2 at 15 s, ~8 s each on a 4-core host), so every run of one length
    * does the same work and its counts repeat exactly. A traced run pairs traced (T) and
    * untraced (U) cycles in whole T,U,U,T blocks, so that a steady drift
    * from one cycle to the next cancels out of the tracing overhead.
    */
  def timedCycles(seconds: Int, traced: Boolean): Int = {
    val n = math.max(1, math.ceil(seconds / 8.0).toInt)
    if (traced) 4 * ((n + 3) / 4) else n
  }
  def tracedCycle(c: Int): Boolean = (c - 1) % 4 == 0 || (c - 1) % 4 == 3
  val PreloadBatch = 2000
  /** Cycle ingest goes in smaller batches so each run times enough writes. */
  val CycleBatch = 200
  val DataBase: Long = 14000000L * Width
  val tagNames: IndexedSeq[String] = (0 until Tags).map(i => f"sensor-$i%02d")

  type Batch = Map[String, Map[Long, String]]

  def ts(p: Int, k: Int): Long = DataBase + p * Width + k * SpacingMs

  /** Inputs fixed by the seed: the preload batches and each cycle's
    * batches (new partitions, then the upserts), warm-up cycle included.
    */
  final class Inputs(seed: Long, timedCycles: Int) {
    private val pool = Main.valuePool(seed)
    private var version = 0L
    private def value(tag: Int, t: Long): String = {
      version += 1
      pool((Main.mix(seed ^ (version << 24) ^ (tag.toLong << 12) ^ t) & 0xFFFF).toInt)
    }

    /** Equal-sized batches of at most `max` samples. */
    private def chunk(samples: Seq[(Int, Long)], max: Int): Seq[Batch] = {
      val n = (samples.size + max - 1) / max
      samples.grouped((samples.size + n - 1) / n).map(_.groupBy(_._1).map { case (tag, ss) =>
        tagNames(tag) -> ss.map { case (_, t) => t -> value(tag, t) }.toMap
      }).toSeq
    }

    val preload: Seq[Batch] = chunk(for {
      p <- 0 until PreloadPartitions; tag <- 0 until Tags; k <- 0 until PerPartition
    } yield (tag, ts(p, k)), PreloadBatch)

    private val rng = new SplittableRandom(seed)
    val cycles: IndexedSeq[Seq[Batch]] = (0 to timedCycles).map { c =>
      val first = PreloadPartitions + c * NewPerCycle
      val fresh = for {
        p <- first until first + NewPerCycle; tag <- 0 until Tags; k <- 0 until PerPartition
      } yield (tag, ts(p, k))
      val late = for {
        tag <- 0 until Tags
        k <- rng.ints(UpsertsPerTag.toLong, 0, PerPartition).toArray.distinct.toSeq
      } yield (tag, ts(first - 1, k))
      chunk(fresh ++ late, CycleBatch)
    }
  }

  def run(spark: SparkSession, o: Main.Opts, tracer: Tracer, layers: Option[Layers]): Outcome = {
    val out = new Outcome
    val cycles = timedCycles(o.seconds, o.trace)
    val in = new Inputs(o.seed, cycles)
    val settings = StoreSettings(partitionWidth = Width)
    val model = Array.fill(Tags)(new java.util.TreeMap[java.lang.Long, String]())
    var now = 1700000000000L
    var userBytes = 0L

    def apply(b: Batch): Unit = b.foreach { case (tag, m) =>
      val t = tagNames.indexOf(tag)
      m.foreach { case (ts, v) => model(t).put(ts, v); userBytes += tag.length + 8L + v.length }
    }

    def open(root: Path): TimeSeriesStore = {
      val s = new TimeSeriesStore(spark, root.toString, settings)
      s.clock = () => now
      s.initialize()
      s
    }

    // ---- set-up: preload the history once (it takes ~20 s, so repeating
    // it would make a run several times longer), then one warm-up cycle
    val setupStart = System.nanoTime()
    val store = open(o.workDir.resolve("tiering"))
    in.preload.foreach(store.write)
    store.flushL0()
    in.preload.foreach(apply)
    out.attempted += in.preload.size
    out.notes += f"preload ${(System.nanoTime() - setupStart) / 1e9}%.3f s"

    // per mode (0 untraced, 1 traced, 2 the untimed warm-up cycle):
    // ingest+maintenance ns, samples in, maintenance ns, samples tiered,
    // sweep ns; plus latencies
    val loopNs = Array(0L, 0L, 0L)
    val ingested = Array(0L, 0L, 0L)
    val maintNs = Array(0L, 0L, 0L)
    val tiered = Array(0L, 0L, 0L)
    val sweepNs = Array(0L, 0L, 0L)
    val writeLat = Array(new Lat, new Lat, new Lat)
    val readLat = Array(new Lat, new Lat, new Lat)
    val archived = mutable.LinkedHashSet.empty[String]
    var maintIo = 0L
    var flushCalls = 0L
    var flushNs = 0L
    var writeIo = 0L
    var writeUser = 0L
    val rng = new SplittableRandom(o.seed * 31 + 7)

    def maint[A](op: String)(body: => A): A = {
      val io0 = if (tracer.on) Proc.wchar() else 0L
      try tracer.span(s"tsdb.maint.$op")(body)
      finally if (tracer.on) maintIo += Proc.wchar() - io0
    }

    /** One cycle: ingest, tier out, compact, then the read sweep. */
    def cycle(c: Int, mode: Int): Unit = {
      tracer.on = mode == 1
      val before = layers.map(_.snapshot())
      // point reads over every partition written by this cycle's end,
      // timed apart from ingest and maintenance
      val partitions = PreloadPartitions + (c + 1) * NewPerCycle
      var readNs = 0L
      def sweep(n: Int): Unit = {
        val s0 = System.nanoTime()
        (0 until n).foreach { _ =>
          val tag = rng.nextInt(Tags)
          val t = ts(rng.nextInt(partitions), rng.nextInt(PerPartition))
          val r0 = System.nanoTime()
          out.attempted += 1
          try {
            val got = tracer.span("tsdb.read")(store.readData(Map(tagNames(tag) -> (t - 5, t + 14))))
            readLat(mode).add(System.nanoTime() - r0)
            val want = model(tag).subMap(t - 5, true, t + 14, true)
            val g = got.getOrElse(tagNames(tag), Map.empty[Long, String])
            if (g.size != want.size || !g.forall { case (k, v) => want.get(k) == v })
              out.fail(s"cycle $c read ${tagNames(tag)}@$t: ${g.size} samples, model ${want.size}")
          } catch { case e: Exception => out.fail(s"cycle $c read: $e") }
        }
        readNs += System.nanoTime() - s0
      }
      // ingest
      now += 600000L
      val c0 = System.nanoTime()
      in.cycles(c).foreach { b =>
        val l0Before = if (tracer.on) Main.l0Files(store) else 0
        val io0 = if (tracer.on) Proc.wchar() else 0L
        val w0 = System.nanoTime()
        out.attempted += 1
        try {
          tracer.span("tsdb.write")(store.write(b))
          val dt = System.nanoTime() - w0
          writeLat(mode).add(dt)
          ingested(mode) += b.valuesIterator.map(_.size).sum
          apply(b)
          if (tracer.on) {
            writeIo += Proc.wchar() - io0
            writeUser += b.iterator.map { case (t, m) =>
              m.valuesIterator.map(v => t.length + 8L + v.length).sum }.sum
            if (Main.l0Files(store) < l0Before) { flushCalls += 1; flushNs += dt }
          }
        } catch { case e: Exception => out.fail(s"cycle $c write: $e") }
      }
      sweep(SweepReads / 4)
      // age past the threshold, then tier out
      now += (ThresholdS + 1) * 1000L
      val m0 = System.nanoTime()
      val readsBeforeMaint = readNs
      var purged = 0
      var compacted = 0
      try {
        maint("purge_scan")(store.purgeScan(ThresholdS, PurgePerCycle))
        val entries = maint("queue_read")(store.pendingPurgeEntries())
        sweep(SweepReads / 4)
        entries.foreach { e =>
          out.attempted += 1
          val want = model(tagNames.indexOf(e.tag)).subMap(
            e.partitionStart, true, e.partitionStart + Width - 1, true)
          if (e.data.size != want.size ||
              !e.data.forall { case (k, v) => want.get(k) == v })
            out.fail(s"cycle $c: queue entry ${e.partitionName} holds " +
              s"${e.data.size} samples, model has ${want.size}")
          if (!archived.add(e.id)) out.fail(s"purge id ${e.id} queued twice")
          maint("archive")(store.archiveToCold(e.id))
          val acked = maint("purge_ack")(store.purgeAck(e.id, e.partitionName, e.tag))
          if (acked != 1) out.fail(s"purgeAck(${e.id}) returned $acked")
          tiered(mode) += e.data.size
          purged += 1
        }
        sweep(SweepReads / 4)
        compacted = maint("compact")(store.compact())
      } catch { case e: Exception => out.fail(s"cycle $c maintenance: $e") }
      val m1 = System.nanoTime()
      maintNs(mode) += m1 - m0 - (readNs - readsBeforeMaint)
      loopNs(mode) += m1 - c0 - readNs
      sweep(SweepReads - 3 * (SweepReads / 4))
      sweepNs(mode) += readNs
      out.notes += f"cycle $c: ${(System.nanoTime() - c0) / 1e9}%.2f s"
      layers.foreach { l =>
        l.endSlice(mode == 1)
        if (c == 0) {
          val after = l.snapshot()
          def d(k: String) = after(k) - before.get(k)
          out.layer("cycle0.store_files") = Main.diskUsage(Path.of(store.rootDir))._2.toDouble
          out.layer("cycle0.purged_partitions") = purged.toDouble
          out.layer("cycle0.compacted_partitions") = compacted.toDouble
          out.layer("cycle0.spark_jobs") = d("spark.jobs")
          out.layer("cycle0.codegen_compiles") = d("codegen.compiles")
        }
      }
    }

    // cycle 0 warms the JIT and Spark's code caches; it is set-up, and its
    // counts are the exact-repeat record for one seed
    layers.foreach(_.begin())
    cycle(0, 2)
    out.e2e("setup_s") = (System.nanoTime() - setupStart) / 1e9
    (1 to cycles).foreach(c => cycle(c, if (o.trace && tracedCycle(c)) 1 else 0))
    tracer.on = false
    out.notes += s"cycles $cycles, archived ${archived.size} partitions"

    // ---- end state: queue drained, each id archived once, a fresh store reads the model
    val (bytes, files) = Main.diskUsage(Path.of(store.rootDir))
    out.attempted += 3
    if (store.pendingPurgeEntries().nonEmpty) out.fail("purge queue not empty at the end")
    val coldIds = {
      val s = Files.walk(Path.of(store.namespaceRoot, "cold"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.startsWith("arch-") => n.split('-').slice(1, 3).mkString("-") }
        .toSeq
      finally s.close()
    }
    if (coldIds.toSet != archived.toSet)
      out.fail(s"cold tier holds ${coldIds.toSet.size} purge ids, ${archived.size} were archived")
    // a full re-read costs ~12 s of cache-missing file opens per run, so
    // the reopened store re-reads the whole history of a seeded sample of
    // tags; the sweeps above already compared every read with the model
    val fresh = open(Path.of(store.rootDir))
    val sample = new SplittableRandom(o.seed).ints(0, Tags).distinct().limit(ReopenTags.toLong).toArray
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try sample.map { t =>
      pool.submit(() => fresh.readData(Map(tagNames(t) -> (Long.MinValue / 4, Long.MaxValue / 4))))
    }.zip(sample).foreach { case (f, t) =>
      val got = f.get().getOrElse(tagNames(t), Map.empty[Long, String])
      if (got.size != model(t).size || !got.forall { case (k, v) => model(t).get(k) == v })
        out.fail(s"reopened store reads ${got.size} samples of ${tagNames(t)}, model ${model(t).size}")
    } finally pool.shutdown()

    // ---- results
    def e2eOf(mode: Int): Map[String, Double] = Map(
      "write_samples_per_s" -> ingested(mode) / (loopNs(mode) / 1e9),
      "write_p50_ms" -> writeLat(mode).pctMs(0.50),
      "write_p99_ms" -> writeLat(mode).pctMs(0.99),
      "read_ops_per_s" -> readLat(mode).count / (sweepNs(mode) / 1e9),
      "read_p50_ms" -> readLat(mode).pctMs(0.50),
      "read_p99_ms" -> readLat(mode).pctMs(0.99),
      "read_tail_ms" -> readLat(mode).pctMs(0.95))
    val plain = e2eOf(0)
    out.e2e ++= plain -- Seq("write_p99_ms", "read_p99_ms")
    out.e2e("store_bytes_per_user_byte") = bytes.toDouble / userBytes
    out.layer("tsdb.write.p99_ms") = plain("write_p99_ms")
    out.layer("tsdb.read.p99_ms") = plain("read_p99_ms")
    out.layer("tsdb.maint.tier_samples_per_s") = tiered(0) / (maintNs(0) / 1e9)
    out.notes += s"writes ${writeLat(0).count}, reads ${readLat(0).count} untraced; " +
      s"store $files files $bytes bytes"
    if (o.trace) {
      val traced = e2eOf(1)
      traced.foreach { case (k, v) => out.layer(s"trace_overhead.$k") = v - plain(k) }
      out.layer("tsdb.write.p99_ms") = traced("write_p99_ms")
      out.layer("tsdb.read.p99_ms") = traced("read_p99_ms")
      out.layer("tsdb.maint.tier_samples_per_s") = tiered(1) / (maintNs(1) / 1e9)
      layers.foreach(Main.reportLayers(out, tracer, _))
      out.layer("tsdb.maint.bytes_rewritten") = maintIo.toDouble
      out.layer("tsdb.write.flush_calls") = flushCalls.toDouble
      out.layer("tsdb.write.flush_ms") = flushNs / 1e6
      out.layer("tsdb.write.io_bytes_per_user_byte") = writeIo.toDouble / math.max(1L, writeUser)
      out.layer("tsdb.read.store_files") = files.toDouble
    }
    out
  }
}
