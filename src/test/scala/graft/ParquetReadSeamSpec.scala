package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.tsdb.{FooterCache, ParquetIO, Sample, StoreSettings, TimeSeriesStore}

/** The store's parquet read seam ([[ParquetIO.openReader]]): every engine
  * read opens through it, it never re-parses Hadoop's default
  * configuration, its per-open options keep concurrent readers apart, and
  * the point-read fast path survives a flush that retires the files it
  * listed.
  */
class ParquetReadSeamSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Counts lookups of Hadoop's `core-default.xml`: each one is a fresh
    * `Configuration` parsing its defaults from the jars.
    */
  private final class CountingLoader(parent: ClassLoader) extends ClassLoader(parent) {
    val coreDefault = new AtomicInteger(0)
    override def getResource(name: String): java.net.URL = {
      if (name == "core-default.xml") coreDefault.incrementAndGet()
      super.getResource(name)
    }
  }

  private def withContextLoader[A](cl: ClassLoader)(f: => A): A = {
    val t = Thread.currentThread()
    val prev = t.getContextClassLoader
    t.setContextClassLoader(cl)
    try f finally t.setContextClassLoader(prev)
  }

  private def writeL0Files(dir: Path, n: Int): IndexedSeq[Path] = {
    val conf = new Configuration()
    (0 until n).map { i =>
      val f = dir.resolve(s"l0-$i.parquet")
      ParquetIO.writeSamples(f,
        (0 until 4).map(k => Sample(s"T$k", i * 10L + k, s"v$i-$k", 1L, "w", k.toLong)),
        ts => ts - ts % 100, conf)
      f
    }
  }

  test("store-file opens parse Hadoop's default configuration at most once, however many") {
    val n = 50
    val dir = Files.createTempDirectory("graft-seam-conf")
    val files = writeL0Files(dir, 4 * n)
    FooterCache.clear()
    val (_, missesBefore) = FooterCache.counts
    val loader = new CountingLoader(Thread.currentThread().getContextClassLoader)
    // one batch: n opens through GroupFileStream, n footer misses through
    // FooterCache.get (files the stream never offered)
    def batch(fs: Seq[Path]): Int = withContextLoader(loader) {
      val before = loader.coreDefault.get()
      val (streamed, footers) = fs.splitAt(n)
      streamed.foreach { f =>
        val r = new ParquetIO.GroupFileStream(f, None)
        try {
          var rows = 0
          while (r.next() != null) rows += 1
          assert(rows === 4)
        } finally r.close()
      }
      footers.foreach(f => assert(FooterCache.get(f.toString).rows === 4L))
      loader.coreDefault.get() - before
    }
    val first = batch(files.take(2 * n))
    val second = batch(files.drop(2 * n))
    assert(FooterCache.counts._2 - missesBefore >= 2L * n,
      "FooterCache.get must have opened every footer-only file")
    // the JVM-wide read configuration may load once (if this spec is the
    // first to touch it); no open after that parses the defaults again
    assert(first <= 1, s"$first core-default.xml lookups over ${2 * n} opens")
    assert(second === 0, s"$second core-default.xml lookups over ${2 * n} more opens")
  }

  private def freshStore(graceMs: Long = 0L): TimeSeriesStore = {
    val root = Files.createTempDirectory("graft-seam-store").toString
    val st = new TimeSeriesStore(spark, root, StoreSettings(partitionWidth = 10L),
      obsoleteGraceMs = graceMs)
    st.initialize()
    st
  }

  /** Jobs Spark starts while `f` runs (job-start events are delivered
    * asynchronously, so the count waits for them to drain).
    */
  private def sparkJobsDuring[A](f: => A): (A, Int) = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    val out =
      try f
      finally {
        Thread.sleep(500)
        spark.sparkContext.removeSparkListener(listener)
      }
    (out, jobs.get())
  }

  test("concurrent cache-missing readData equals a single-threaded read of the same files") {
    val tags = (0 until 8).map(t => s"CTag$t")
    // 20 partitions per tag: hot files from three flushes plus an L0 tail
    val batches = (0 until 4).map { b =>
      tags.map(t => t -> (0 until 50).map(i => (b * 50L + i) -> s"$t-${b * 50 + i}").toMap).toMap
    }
    val model = tags.map(t => t -> SortedMap((0 until 200).map(i => i.toLong -> s"$t-$i"): _*)).toMap
    // identical content under two roots: the single-threaded read fills the
    // point cache for the first root's files only, so every file of the
    // second is a cache miss for the concurrent readers
    val (single, shared) = (freshStore(), freshStore())
    Seq(single, shared).foreach { st =>
      batches.zipWithIndex.foreach { case (b, i) =>
        st.write(b)
        if (i < 3) st.flushL0()
      }
    }
    val ranges = tags.map(t => t -> (0L, 199L))
    val expected = ranges.map(r => r._1 -> single.readData(Map(r))(r._1)).toMap
    assert(expected === model)

    val threads = 4
    val barrier = new CyclicBarrier(threads)
    val pool = Executors.newFixedThreadPool(threads)
    val (got, jobs) = sparkJobsDuring {
      try {
        val futures = (0 until threads).map { k =>
          pool.submit(new java.util.concurrent.Callable[Map[String, SortedMap[Long, String]]] {
            override def call(): Map[String, SortedMap[Long, String]] = {
              barrier.await(30, TimeUnit.SECONDS)
              // two readers walk the tags forward, two backward: the same
              // files open on several threads at once
              val order = if (k % 2 == 0) ranges else ranges.reverse
              order.map(r => r._1 -> shared.readData(Map(r))(r._1)).toMap
            }
          })
        }
        futures.map(_.get(60, TimeUnit.SECONDS))
      } finally pool.shutdown()
    }
    got.zipWithIndex.foreach { case (g, k) =>
      assert(g === expected, s"reader $k diverged from the single-threaded read")
    }
    assert(jobs === 0, "every concurrent read must stay on the fast path")
  }

  test("a read that races an inline flush at grace 0 re-lists and stays on the fast path") {
    val st = freshStore(graceMs = 0L)
    val model = (0 until 3).map { b =>
      val batch = Map("RTag" -> (0 until 10).map(i => (b * 10L + i) -> s"v$b-$i").toMap)
      st.write(batch)
      batch("RTag")
    }.reduce(_ ++ _)
    val l0Dir = Paths.get(st.namespaceRoot, "l0")
    def l0Files: Int =
      if (!Files.exists(l0Dir)) 0
      else Files.list(l0Dir).iterator().asScala.count(_.toString.endsWith(".parquet"))
    assert(l0Files === 3)
    // the flush lands after the read listed its L0 candidates and before it
    // opens them: at grace 0 it deletes the very files the listing names
    val fired = new AtomicBoolean(false)
    st.fastReadListed = () => if (fired.compareAndSet(false, true)) { st.flushL0(); () }
    val (got, jobs) = sparkJobsDuring(st.readData(Map("RTag" -> (0L, 29L))))
    st.fastReadListed = () => ()
    assert(fired.get())
    assert(l0Files === 0, "the inline flush must have retired the listed L0 files")
    assert(got("RTag") === SortedMap(model.toSeq: _*))
    assert(jobs === 0, "the raced read fell back to Spark")
  }

  test("every engine parquet read opens through the one seam") {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val sources = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    // code only: the seam's own docs name the calls it replaces
    def code(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")
    /** Argument lists of every `call(`, with the number of top-level
      * commas in each.
      */
    def calls(src: String, call: String): Seq[(String, Int)] = {
      val out = Seq.newBuilder[(String, Int)]
      var at = src.indexOf(call)
      while (at >= 0) {
        var i = at + call.length
        var depth = 1
        var commas = 0
        while (depth > 0 && i < src.length) {
          src.charAt(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case ',' if depth == 1 => commas += 1
            case _ => ()
          }
          i += 1
        }
        out += ((src.substring(at + call.length, i - 1).trim, commas))
        at = src.indexOf(call, i)
      }
      out.result()
    }
    val offences = sources.flatMap { p =>
      val src = code(p)
      val opens = calls(src, "ParquetFileReader.open(")
      val rel = root.relativize(p).toString
      opens.collect { case (args, 0) => s"$rel: one-argument ParquetFileReader.open($args)" } ++
        calls(src, "ParquetReadOptions.builder(").collect {
          case (args, _) if args.isEmpty => s"$rel: no-argument ParquetReadOptions.builder()"
        } ++
        (if (p.getFileName.toString == "ParquetIO.scala") Nil
         else opens.map { case (args, _) => s"$rel: ParquetFileReader.open($args) outside ParquetIO" }) ++
        (if (src.contains("new ParquetFileReader(")) Seq(s"$rel: new ParquetFileReader(...)") else Nil)
    }
    assert(offences.isEmpty, offences.mkString("\n"))
    val seamOpens = sources.map(p => calls(code(p), "ParquetFileReader.open(").size).sum
    assert(seamOpens === 1, "ParquetIO.openReader must stay the only ParquetFileReader.open call")
  }
}
