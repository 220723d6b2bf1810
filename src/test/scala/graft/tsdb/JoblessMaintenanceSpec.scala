package graft.tsdb

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll


/** Tiering maintenance without Spark jobs: `purgeScan` picks victims from
  * the store's in-memory RecentActivity index (differentially checked
  * against the whole-log Spark aggregate it replaced), `compact` merges
  * small partitions driver-side (checked against its Spark branch), and the
  * ledger tail behind both never loses a line torn by a concurrent append.
  */
class JoblessMaintenanceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def sparkJobsDuring[A](f: => A): (A, Int) = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    val out =
      try f
      finally {
        Thread.sleep(500) // job-start events are delivered asynchronously
        spark.sparkContext.removeSparkListener(listener)
      }
    (out, jobs.get())
  }

  private def walk(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.toList finally s.close()
    }

  /** Non-data files in the live tiers, plus anything left under `tmp/`. */
  private def leftovers(st: TimeSeriesStore): Seq[String] = {
    val ns = Paths.get(st.namespaceRoot)
    val stray = Seq("l0", "hot", "cold").flatMap(t => walk(ns.resolve(t))).filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) &&
        (n.endsWith(".crc") || n.contains(".tmp") || n.startsWith(".") || n.startsWith("_"))
    }
    val staged = walk(ns.resolve("tmp")).filter(_ != ns.resolve("tmp"))
    (stray ++ staged).map(ns.relativize(_).toString).sorted
  }

  // ------------------------------------------------------ ledger tail

  test("readAppended reads a line torn by a concurrent append exactly once") {
    val dir = Files.createTempDirectory("graft-torn")
    val f = dir.resolve("act-w.jsonl")
    val first = ActivityLedger.encodeLine(
      ActivityLedger.Act("A", 0L, 5L, "w", Some(5L), Some(5L))) + "\n"
    val second = ActivityLedger.encodeLine(
      ActivityLedger.Act("Bé", 10L, 6L, "w", Some(6L), Some(6L))) + "\n"
    val secondBytes = second.getBytes(StandardCharsets.UTF_8)
    val cut = secondBytes.length / 2
    Files.write(f, first.getBytes(StandardCharsets.UTF_8) ++ secondBytes.take(cut))
    val (o1, t1) = ActivityLedger.readAppended(dir, Map.empty)
    assert(t1 === Set(("A", 0L)))
    assert(o1("act-w.jsonl") === first.getBytes(StandardCharsets.UTF_8).length.toLong,
      "the offset must stop at the last complete line")
    Files.write(f, secondBytes.drop(cut), StandardOpenOption.APPEND)
    val (o2, t2) = ActivityLedger.readAppended(dir, o1)
    assert(t2 === Set(("Bé", 10L)))
    assert((t1.toSeq ++ t2.toSeq).count(_ == (("Bé", 10L))) === 1)
    assert(o2("act-w.jsonl") === Files.size(f))
    // nothing new: nothing read; a vanished file's offset is dropped
    assert(ActivityLedger.readAppended(dir, o2)._2.isEmpty)
    Files.delete(f)
    assert(ActivityLedger.readAppended(dir, o2)._1.isEmpty)
  }

  // --------------------------------- RecentActivity vs the Spark oracle

  private val activitySchema = StructType(Seq(
    StructField("partitionName", StringType, nullable = false),
    StructField("tag", StringType, nullable = false),
    StructField("partitionStart", LongType, nullable = false),
    StructField("activityTs", LongType, nullable = false),
    StructField("kind", StringType, nullable = false)))

  /** The whole-log aggregate `recentActivityDF` used to run. */
  private def oracleActive(activityDir: Path): DataFrame =
    spark.read.schema(activitySchema).json(activityDir.toString)
      .groupBy(col("partitionName"), col("tag"), col("partitionStart"))
      .agg(
        max(when(col("kind") === "w", col("activityTs"))).as("lastWrite"),
        max(when(col("kind") === "m", col("activityTs"))).as("lastMark"))
      .where(col("lastWrite").isNotNull &&
        (col("lastMark").isNull || col("lastWrite") > col("lastMark")))
      .select(col("partitionName"), col("tag"), col("partitionStart"),
        col("lastWrite").as("lastActivity"))

  /** The top-K plan `purgeScan` used to run over that aggregate. */
  private def oracleVictims(activityDir: Path, now: Long, thresholdS: Long,
      k: Int): Seq[String] =
    oracleActive(activityDir)
      .where(lit(now) - col("lastActivity") >= thresholdS * 1000L)
      .orderBy(col("lastActivity"), col("partitionName"))
      .limit(k)
      .collect().toSeq.map(_.getString(0))

  private def rowsOf(df: DataFrame): Set[(String, String, Long, Long)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet

  private def activityDir(st: TimeSeriesStore): Path =
    Paths.get(st.namespaceRoot, "activity")

  test("purgeScan victims and recentActivityDF equal the whole-log Spark aggregate") {
    // `,` `"` `\` and a partition-name collision ("a-",10 / "a",-10); a
    // JVM without a UTF-8 locale cannot name a directory after a
    // non-ASCII tag, so those are checked on raw ledgers below
    val tags = Seq("a,b", "q\"t", "b\\s", "plain", "a-", "a")
    Seq(11L, 29L).foreach { seed =>
      val rng = new scala.util.Random(seed)
      val root = Files.createTempDirectory("graft-ra-diff").toString
      var now = 1000000L
      val stores = IndexedSeq.fill(2) {
        val st = new TimeSeriesStore(spark, root, StoreSettings(partitionWidth = 10L))
        st.clock = () => now
        st.initialize()
        st
      }
      var scans = 0
      var victims = 0
      var ties = 0
      (0 until 36).foreach { step =>
        val st = stores(rng.nextInt(2))
        rng.nextInt(10) match {
          case r if r < 5 =>
            // one batch: every touched partition gets the same activity clock
            if (rng.nextBoolean()) now += 1000L * rng.nextInt(3)
            val batch = (0 until 1 + rng.nextInt(4)).map { _ =>
              tags(rng.nextInt(tags.size)) ->
                (0 until 1 + rng.nextInt(3)).map(_ => (rng.nextInt(60) - 20).toLong -> s"v$step").toMap
            }.toMap
            st.write(batch)
          case r if r < 8 =>
            now += 500L * rng.nextInt(5)
            val k = 1 + rng.nextInt(5)
            val want = oracleVictims(activityDir(st), now, 1L, k)
            val ids = st.purgeScan(1L, k)
            val got = ids.map(id => st.loadPurgeEntry(id).get.partitionName)
            assert(got === want, s"seed $seed step $step")
            scans += 1
            victims += got.size
          case 8 =>
            st.compactActivityLog()
          case _ =>
            val want = rowsOf(oracleActive(activityDir(st)))
            assert(rowsOf(stores(0).recentActivityDF) === want, s"seed $seed step $step")
            assert(rowsOf(stores(1).recentActivityDF) === want, s"seed $seed step $step")
            ties += want.groupBy(_._4).count(_._2.size > 1)
        }
      }
      stores.foreach(s => assert(rowsOf(s.recentActivityDF) === rowsOf(oracleActive(activityDir(s)))))
      assert(scans > 3 && victims > 3 && ties > 0,
        s"seed $seed exercised too little: $scans scans, $victims victims, $ties ties")
    }
  }

  test("RecentActivity over raw ledgers equals the Spark aggregate, ties ordered by UTF-8 name") {
    // "\uE000x" sorts before "𝄞x" by UTF-8 bytes, after it by UTF-16 units
    val tags = Seq("𝄞x", "\uE000x", "a,b", "q\"t", "b\\s", "a-", "a")
    Seq(3L, 17L, 41L).foreach { seed =>
      val rng = new scala.util.Random(seed)
      val dir = Files.createTempDirectory("graft-ra-ledger")
      val index = new RecentActivity(dir)
      val gen = Array.fill(3)(0)
      def file(w: Int) = dir.resolve(s"act-w$w.c${gen(w)}.jsonl")
      def append(w: Int, text: String): Unit = Files.write(file(w),
        text.getBytes(StandardCharsets.UTF_8), StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      var now = 1000000L
      var checks = 0
      var tiedVictims = 0
      (0 until 60).foreach { step =>
        val w = rng.nextInt(3)
        rng.nextInt(10) match {
          case r if r < 6 =>
            if (rng.nextBoolean()) now += 1000L
            val text = (0 until 1 + rng.nextInt(4)).map { _ =>
              ActivityLedger.encodeLine(ActivityLedger.Act(tags(rng.nextInt(tags.size)),
                10L * (rng.nextInt(3) - 1), now, if (rng.nextInt(5) == 0) "m" else "w",
                Some(now), Some(now))) + "\n"
            }.mkString
            if (rng.nextInt(3) == 0) {
              // a reader between two write calls of one append sees a torn line
              val b = text.getBytes(StandardCharsets.UTF_8)
              val cut = 1 + rng.nextInt(b.length - 1)
              Files.write(file(w), b.take(cut), StandardOpenOption.CREATE, StandardOpenOption.APPEND)
              index.refresh()
              Files.write(file(w), b.drop(cut), StandardOpenOption.APPEND)
            } else append(w, text)
          case 6 if Files.exists(file(w)) =>
            // roll: the net (tag, partitionStart, kind) max under a new name
            val net = Files.readAllLines(file(w), StandardCharsets.UTF_8).asScala
              .flatMap(ActivityLedger.parseLine)
              .groupBy(a => (a.tag, a.partitionStart, a.kind)).values.map(_.maxBy(_.activityTs))
            val old = file(w)
            gen(w) += 1
            append(w, net.map(a => ActivityLedger.encodeLine(a) + "\n").mkString)
            Files.delete(old)
          case _ =>
            index.refresh()
            val active = index.active()
            assert(active.map(e => (e.partitionName, e.tag, e.partitionStart, e.lastActivity)).toSet ===
              rowsOf(oracleActive(dir)), s"seed $seed step $step")
            val at = now + 500L * rng.nextInt(4)
            val k = 1 + rng.nextInt(6)
            val got = index.oldest(at, 1000L, k).map(_.partitionName)
            assert(got === oracleVictims(dir, at, 1L, k), s"seed $seed step $step")
            checks += 1
            tiedVictims += got.size - index.oldest(at, 1000L, k).map(_.lastActivity).distinct.size
        }
      }
      assert(checks > 5 && tiedVictims > 0, s"seed $seed: $checks checks, $tiedVictims tied victims")
    }
    val tied = Seq("𝄞x", "\uE000x").map(t => RecentActivity.Entry(s"$t-0", t, 0L, 5L))
    assert(tied.sorted(RecentActivity.victimOrder).map(_.tag) === Seq("\uE000x", "𝄞x"))
  }

  // ------------------------------------------- compact's two branches

  private def history(st: TimeSeriesStore): Unit = {
    val tags = Seq("c,1", "sp ace:/x", "q\"t", "plain")
    // rounds 0 and 1 tie on (ingestTs, seq), so the writer id decides
    def batch(round: Int, ingest: Long, writer: String): Seq[Sample] = for {
      (tag, t) <- tags.zipWithIndex
      ts <- 0L until 40L by (1 + t).toLong
    } yield Sample(tag, ts, s"v$round-$ts", ingest, writer, ts % 7 + (if (round == 2) 100L else 0L))
    st.writeSamples(batch(0, 5L, "wA"))
    st.flushL0()
    st.writeSamples(batch(1, 5L, "wB").filter(_.ts % 2 == 0))
    st.flushL0()
    st.writeSamples(batch(2, 7L, "wA").filter(_.ts % 5 == 0))
    st.flushL0()
  }

  /** Every physical hot-tier row, sorted. */
  private def hotRows(st: TimeSeriesStore): Seq[(String, Long, Long, String, Long, String, Long)] =
    spark.read.parquet(Paths.get(st.namespaceRoot, "hot").toString)
      .select(col("tag"), col("partition_start").cast("long"), col("ts"), col("value"),
        col("ingestTs"), col("writerId"), col("seq"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4), r.getString(5), r.getLong(6)))
      .sorted

  test("compact: the driver-side and the Spark branch yield the same store") {
    Seq(true, false).foreach { lww =>
      val outs = Seq(Long.MaxValue, 0L).map { directMax =>
        val st = new TimeSeriesStore(spark,
          Files.createTempDirectory("graft-compact-branch").toString,
          StoreSettings(partitionWidth = 10L), directFlushMaxBytes = directMax)
        st.initialize()
        history(st)
        val ranges = Seq("c,1", "sp ace:/x", "q\"t", "plain")
          .map(_ -> (-100L, 100L)).toMap
        val before = st.readData(ranges)
        val (n, jobs) = sparkJobsDuring(st.compact(minFiles = 2, applyLww = lww))
        assert(st.readData(ranges) === before, s"lww=$lww directMax=$directMax")
        assert(leftovers(st).isEmpty, s"lww=$lww directMax=$directMax: ${leftovers(st)}")
        (n, jobs, st.readData(ranges), hotRows(st))
      }
      val (local, distributed) = (outs(0), outs(1))
      assert(local._1 === distributed._1, s"lww=$lww return count")
      assert(local._1 === 16, s"lww=$lww: 4 tags x 4 partitions")
      assert(local._2 === 0, s"lww=$lww: the driver branch started Spark jobs")
      assert(distributed._2 > 0, s"lww=$lww: directFlushMaxBytes = 0 must take the Spark branch")
      assert(local._3 === distributed._3)
      assert(local._4 === distributed._4, s"lww=$lww: physical rows differ")
    }
  }

  test("compact: zorder still rewrites through Spark") {
    val st = new TimeSeriesStore(spark,
      Files.createTempDirectory("graft-compact-zorder").toString,
      StoreSettings(partitionWidth = 10L))
    st.initialize()
    history(st)
    val (n, jobs) = sparkJobsDuring(st.compact(minFiles = 2, zorder = true))
    assert(n === 16)
    assert(jobs > 0)
    assert(leftovers(st).isEmpty)
  }

  test("guard: purgeScan then compact start no Spark job on a small store") {
    val st = new TimeSeriesStore(spark,
      Files.createTempDirectory("graft-jobless").toString, StoreSettings(partitionWidth = 10L))
    var now = 1000000L
    st.clock = () => now
    st.initialize()
    (0 until 2).foreach { round =>
      st.write((0 until 4).map(t => s"G$t" -> (0 until 5).map(p => (p * 10L + round) -> s"v$round").toMap).toMap)
      st.flushL0()
      now += 10L
    }
    now += 60000L
    val before = st.readData((0 until 4).map(t => s"G$t" -> (0L, 100L)).toMap)
    val ((ids, n), jobs) = sparkJobsDuring {
      val ids = st.purgeScan(30L, 5)
      (ids, st.compact())
    }
    assert(ids.size === 5)
    assert(n === 20)
    assert(jobs === 0, s"purgeScan + compact started $jobs Spark jobs")
    assert(st.readData((0 until 4).map(t => s"G$t" -> (0L, 100L)).toMap) === before)
    val entries = st.pendingPurgeEntries()
    entries.foreach { e =>
      st.archiveToCold(e.id)
      assert(st.purgeAck(e.id, e.partitionName, e.tag) === 1)
    }
    assert(st.readData((0 until 4).map(t => s"G$t" -> (0L, 100L)).toMap) === before)
    assert(leftovers(st).isEmpty)
    assert(entries.map(_.data.size).sum === 10)
  }
}
