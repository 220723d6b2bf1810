package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.tsdb.{Limits, Sample, StoreSettings, TimeSeriesStore}

/** The store's one commit step (`TimeSeriesStore.publish`): every mutation
  * stages under `tmp/` and publishes by atomic rename, so the live tiers
  * never hold a half-written file or a writer's sidecar, and `tmp/` is
  * empty between mutations.
  */
class StoreCommitSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def walk(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.toList finally s.close()
    }

  /** Files in `l0/`, `hot/` or `cold/` that are not live data (checksum
    * sidecars, staged `.tmp` names, hidden files, Spark markers), plus
    * anything left under `tmp/`.
    */
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

  private final class Run(graceMs: Long, directMax: Long) {
    var now = 1000000L
    val st = new TimeSeriesStore(spark,
      Files.createTempDirectory("graft-commit").toString,
      StoreSettings(partitionWidth = 10L),
      directFlushMaxBytes = directMax, obsoleteGraceMs = graceMs)
    st.clock = () => now
    st.initialize()
    var model = Map.empty[String, SortedMap[Long, String]]

    def write(batch: Map[String, Map[Long, String]]): Unit = {
      st.write(batch)
      batch.foreach { case (t, kv) => model += t -> (model.getOrElse(t, SortedMap.empty[Long, String]) ++ kv) }
      now += 1
    }

    def delete(tag: String, from: Long, to: Long): Unit = {
      st.delete(tag, from, to)
      model += tag -> model(tag).filterNot { case (ts, _) => ts >= from && ts <= to }
    }

    def read(): Map[String, SortedMap[Long, String]] = {
      val got = st.readData(model.keys.map(_ -> (-1000L, 1000L)).toMap)
      model.keys.map(t => t -> got.getOrElse(t, SortedMap.empty[Long, String])).toMap
    }
  }

  /** Every store mutation once: write, flush, plain and zorder compact,
    * bulk append, purge scan / archive / ack (with and without survivors),
    * whole-partition and partial delete, activity-log compaction.
    */
  private def everyMutation(graceMs: Long, directMax: Long): Run = {
    val r = new Run(graceMs, directMax)
    import r._
    write(Map("A" -> Map(1L -> "a1", 2L -> "a2", 11L -> "a11", 25L -> "a25"),
      "B" -> Map(3L -> "b3", 14L -> "b14")))
    write(Map("A" -> Map(2L -> "a2'", 12L -> "a12"), "B" -> Map(3L -> "b3'")))
    assert(st.flushL0() === 2)
    write(Map("A" -> Map(1L -> "a1'", 13L -> "a13"), "B" -> Map(15L -> "b15")))
    st.flushL0()
    assert(st.compact() > 0)
    write(Map("A" -> Map(5L -> "a5", 15L -> "a15"), "B" -> Map(16L -> "b16")))
    st.flushL0()
    assert(st.compact(zorder = true, zorderRowsPerFile = 2L) > 0)
    st.writeSamplesDistributed(spark.createDataFrame(Seq(
      Sample("C", 5L, "c5", now, "bulk", 1L), Sample("C", 16L, "c16", now, "bulk", 2L))))
    model += "C" -> SortedMap(5L -> "c5", 16L -> "c16")
    now += 120000L
    val ids = st.purgeScan(60, 2)
    assert(ids.size === 2)
    // a row landing in the first marked partition after its snapshot
    // survives the ack: that ack publishes a survivor file
    val first = st.loadPurgeEntry(ids.head).get
    write(Map(first.tag -> Map(first.partitionStart + 9 -> "late")))
    st.flushL0()
    ids.foreach { id =>
      val e = st.loadPurgeEntry(id).get
      st.archiveToCold(id)
      assert(st.purgeAck(id, e.partitionName, e.tag) === 1)
    }
    delete("A", 0L, 9L) // whole partition
    delete("B", 14L, 14L) // partial: survivors publish
    st.compactActivityLog()
    r
  }

  test("every mutation leaves no sidecar, staged file or staging dir (grace 0)") {
    Seq(Limits.DirectFlushMaxBytes, 0L).foreach { direct =>
      val r = everyMutation(0L, direct)
      assert(leftovers(r.st) === Nil, s"directFlushMaxBytes = $direct")
      assert(r.read() === r.model, s"directFlushMaxBytes = $direct")
    }
  }

  test("every mutation leaves no sidecar, staged file or staging dir (grace > 0, forced sweep)") {
    Seq(Limits.DirectFlushMaxBytes, 0L).foreach { direct =>
      val r = everyMutation(1000000000L, direct)
      assert(r.st.gcSweep(force = true) > 0)
      assert(leftovers(r.st) === Nil, s"directFlushMaxBytes = $direct")
      assert(r.read() === r.model, s"directFlushMaxBytes = $direct")
    }
  }

  test("purge-queue entries keep tags holding , } \" and \\") {
    val r = new Run(0L, Limits.DirectFlushMaxBytes)
    import r._
    val tags = Seq("a,b", "x}y", "q\"t", "b\\s")
    write(tags.map(t => t -> Map(1L -> s"$t-1", 2L -> s"$t-2")).toMap)
    val before = read()
    now += 120000L
    val ids = st.purgeScan(60, 10)
    assert(ids.size === tags.size)
    val entries = ids.map(id => st.loadPurgeEntry(id).get)
    assert(entries.map(_.tag).toSet === tags.toSet)
    entries.foreach { e =>
      assert(e.partitionName === st.partitionName(e.tag, 0L))
      assert(e.partitionStart === 0L)
      assert(e.data === SortedMap(1L -> s"${e.tag}-1", 2L -> s"${e.tag}-2"))
      st.archiveToCold(e.id)
      assert(st.purgeAck(e.id, e.partitionName, e.tag) === 1)
    }
    val ns = Paths.get(st.namespaceRoot)
    tags.foreach { t =>
      val part = Paths.get("tag=" + ExternalCatalogUtils.escapePathName(t), "partition_start=0")
      assert(Files.isDirectory(ns.resolve("cold").resolve(part)), t)
      assert(!Files.exists(ns.resolve("hot").resolve(part)), t)
    }
    assert(read() === before)
  }

  test("ATOMIC_MOVE lives only in the commit step; no .tmp name is built") {
    val src = Paths.get("src", "main", "scala", "graft", "tsdb", "TimeSeriesStore.scala")
    assert(Files.isRegularFile(src), s"run from the repository root (no $src)")
    // code only: comments may name the old conventions (a `/*` right
    // after a quote opens a glob literal, not a comment)
    val code = new String(Files.readAllBytes(src), "UTF-8")
      .replaceAll("(?s)(?<!\")/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")
    def all(s: String): Seq[Int] =
      Iterator.iterate(code.indexOf(s))(i => code.indexOf(s, i + 1)).takeWhile(_ >= 0).toSeq
    val head = code.indexOf("def publish[")
    assert(head >= 0, "the commit step is gone")
    val open = code.indexOf('{', code.indexOf("): A =", head))
    var end = open + 1
    var depth = 1
    while (depth > 0) {
      code.charAt(end) match {
        case '{' => depth += 1
        case '}' => depth -= 1
        case _ => ()
      }
      end += 1
    }
    for (call <- Seq("ATOMIC_MOVE", "Files.move(")) {
      val at = all(call)
      assert(at.size === 1, s"$call must appear exactly once")
      assert(at.forall(i => i > open && i < end), s"$call outside the commit step")
    }
    assert("\\.tmp\\b".r.findFirstIn(code).isEmpty, "a `.tmp` name is built")
  }

  test("a tag this JVM cannot name a directory for is refused before it reaches l0/") {
    val tag = "\uD834\uDD1Eq" // U+1D11E, then q
    val encodable =
      try { Paths.get("tag=" + tag); true }
      catch { case _: java.nio.file.InvalidPathException => false }
    val r = new Run(0L, Limits.DirectFlushMaxBytes)
    import r._
    write(Map("plain" -> Map(1L -> "p1")))
    if (encodable) {
      write(Map(tag -> Map(2L -> "x2"), "plain" -> Map(3L -> "p3")))
      assert(st.flushL0() === 2)
      assert(read() === model)
    } else {
      val l0 = Paths.get(st.namespaceRoot, "l0")
      val before = walk(l0).sorted
      val e = intercept[IllegalArgumentException] {
        st.write(Map(tag -> Map(2L -> "x2"), "plain" -> Map(3L -> "p3")))
      }
      assert(e.getMessage.contains(tag))
      assert(walk(l0).sorted === before, "the refused batch reached l0/")
      assert(st.flushL0() === 1)
      write(Map("plain" -> Map(4L -> "p4")))
      assert(st.compact() === 1)
      now += 120000L
      assert(st.purgeScan(60, 10).size === 1)
      assert(read() === model)
    }
    assert(leftovers(st) === Nil)
  }

  test("one partition-rewrite step: one pool, one size rule, one Spark read schema, one layout writer") {
    val src = Paths.get("src", "main", "scala", "graft", "tsdb", "TimeSeriesStore.scala")
    assert(Files.isRegularFile(src), s"run from the repository root (no $src)")
    val code = new String(Files.readAllBytes(src), "UTF-8")
      .replaceAll("(?s)(?<!\")/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")
    def all(s: String): Seq[Int] =
      Iterator.iterate(code.indexOf(s))(i => code.indexOf(s, i + 1)).takeWhile(_ >= 0).toSeq
    /** [start, end) of the body of the method declared at `head`. */
    def bodyOf(head: String): (Int, Int) = {
      val at = code.indexOf(head)
      assert(at >= 0, s"$head is gone")
      val open = code.indexOf('{', at)
      var end = open + 1
      var depth = 1
      while (depth > 0) {
        code.charAt(end) match {
          case '{' => depth += 1
          case '}' => depth -= 1
          case _ => ()
        }
        end += 1
      }
      (open, end)
    }
    val step = bodyOf("private def rewrite(")
    def inStep(i: Int): Boolean = i > step._1 && i < step._2
    val pools = all("newFixedThreadPool")
    assert(pools.size === 1, "one driver-side pool")
    assert(pools.forall(inStep), "the pool lives in the rewrite step")
    val rules = "[<>]=?\\s*directFlushMaxBytes|directFlushMaxBytes\\s*[<>]".r
      .findAllMatchIn(code).map(_.start).toSeq
    assert(rules.size === 1, "one comparison against directFlushMaxBytes")
    assert(rules.forall(inStep), "the size rule lives in the rewrite step")
    assert("val\\s+withPartCols\\b".r.findAllMatchIn(code).size === 1, "one withPartCols")
    // L0, tier and snapshot readers all take that one schema
    assert(all("sampleSchema.add(").size === 1, "a second store read schema")
    assert(!code.contains("l0SparkSchema"))
    // the step picks a half; each caller's Spark function owns its write shape
    val stepCode = code.substring(step._1, step._2)
    for (shape <- Seq("partitionBy", "repartition", "zorder", ".write."))
      assert(!stepCode.contains(shape), s"the rewrite step holds a caller's `$shape`")
    val writers = all("partitionBy(\"tag\", \"partition_start\")")
    val layout = bodyOf("private def writePartitioned(")
    val bulk = bodyOf("def writeSamplesDistributed(")
    assert(writers.size === 2, "the layout writer's and writeSamplesDistributed's")
    assert(writers.count(i => i > layout._1 && i < layout._2) === 1)
    assert(writers.count(i => i > bulk._1 && i < bulk._2) === 1)
    for (gone <- Seq("compactLocal", "compactSpark")) assert(!code.contains(gone), gone)
  }
}
