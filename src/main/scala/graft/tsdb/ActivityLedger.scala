package graft.tsdb

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}

import scala.jdk.CollectionConverters._

/** The activity ledger as a PLANNING INDEX (VERDICT r15 next #1).
  *
  * Every new-data write lane already appends one `"w"` row per touched
  * `(tag, partition_start)` with `activityTs` = the batch's max
  * `ingestTs` for that partition (reference RecentActivity, index.js:81)
  * — which is exactly the "did this partition gain in-window rows"
  * predicate the change feed's planner needs. This object reads that
  * ledger CHURN-PROPORTIONALLY instead of walking every tier file's
  * footer:
  *
  *  - Each appended line carries `pmax` — the RUNNING MAX of
  *    `activityTs` over the file so far (monotone by construction, even
  *    when a backfill appends rows with old ingest clocks out of order).
  *    [[changedSince]] therefore reads each writer's log BACKWARDS in
  *    chunks and stops at the first line whose `pmax ≤ fromMs`: every
  *    earlier line is provably ≤ fromMs too, so a cold planning call
  *    reads O(churned lines + one chunk per writer), not O(partitions
  *    ever touched) — flat in store size, linear in churn
  *    (ChangeFeedProbe measures it at 100k+ partitions).
  *  - [[tail]] is the forward twin: it consumes only the complete lines
  *    appended since the caller's last offsets. The store TAILER
  *    ([[readAppended]]) takes the partitions whose activity advanced;
  *    the store's [[RecentActivity]] index takes every write and mark.
  *
  * Lines written before the `pmax` field existed parse fine; a file
  * containing any such line just can't early-stop below it (the scan
  * degrades to a full read of that file — correct, merely uncached).
  */
object ActivityLedger {

  /** One parsed activity line. `amin` is the batch's MIN ingestTs for the
    * partition (round 17 — the admission-control field): together with
    * `activityTs` (the batch MAX) it brackets the line's row clocks, so a
    * change window `(from, to]` can SKIP a line whose whole bracket lies
    * above `to` — which is what lets the CDF stream cut a deep backlog
    * into budget-sized windows. A legacy line without `amin` is treated
    * as unbounded below (always eligible — conservative superset).
    */
  final case class Act(tag: String, partitionStart: Long, activityTs: Long,
      kind: String, pmax: Option[Long], amin: Option[Long] = None)

  private def unescape(s: String): String =
    if (!s.contains('\\')) s
    else {
      val b = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case '"'  => b.append('"'); i += 2
            case '\\' => b.append('\\'); i += 2
            case 'u'  =>
              b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
              i += 6
            case o => b.append(o); i += 2
          }
        } else { b.append(c); i += 1 }
      }
      b.toString
    }

  /** `s` as a JSON string literal: quotes, backslashes and control
    * characters escaped — the form the field readers below decode.
    */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The value of the numeric field `name` in a flat JSON object. */
  private[graft] def longField(line: String, name: String): Option[Long] = {
    val k = "\"" + name + "\":"
    val i = line.indexOf(k)
    if (i < 0) return None
    var j = i + k.length
    val start = j
    if (j < line.length && line.charAt(j) == '-') j += 1
    while (j < line.length && line.charAt(j).isDigit) j += 1
    if (j == start) None else Some(line.substring(start, j).toLong)
  }

  /** The value of the string field `name` in a flat JSON object. */
  private[graft] def strField(line: String, name: String): Option[String] = {
    val k = "\"" + name + "\":\""
    val i = line.indexOf(k)
    if (i < 0) return None
    var j = i + k.length
    val b = new StringBuilder
    while (j < line.length) {
      val c = line.charAt(j)
      if (c == '\\' && j + 1 < line.length) { b.append(c).append(line.charAt(j + 1)); j += 2 }
      else if (c == '"') return Some(unescape(b.toString))
      else { b.append(c); j += 1 }
    }
    None
  }

  /** One ledger line (no trailing newline) — the inverse of [[parseLine]].
    * Every writer lane encodes through here, so the field order is one:
    * `partitionName, tag, partitionStart, activityTs, [amin,] kind, [pmax]`.
    */
  def encodeLine(a: Act): String = {
    val b = new StringBuilder(128)
    b.append("{\"partitionName\":")
      .append(quote(a.tag + Limits.Separator + a.partitionStart))
      .append(",\"tag\":").append(quote(a.tag))
      .append(",\"partitionStart\":").append(a.partitionStart)
      .append(",\"activityTs\":").append(a.activityTs)
    a.amin.foreach(m => b.append(",\"amin\":").append(m))
    b.append(",\"kind\":").append(quote(a.kind))
    a.pmax.foreach(m => b.append(",\"pmax\":").append(m))
    b.append('}').toString
  }

  /** Parse one ledger line; None for malformed/blank lines. */
  def parseLine(line: String): Option[Act] =
    for {
      tag <- strField(line, "tag")
      ps <- longField(line, "partitionStart")
      at <- longField(line, "activityTs")
      kind <- strField(line, "kind")
    } yield Act(tag, ps, at, kind, longField(line, "pmax"),
      longField(line, "amin"))

  /** The `pmax` of a file's LAST line — the file's activity high-water
    * (every line's running max ends there). None for an empty file or a
    * legacy last line.
    */
  def lastPmax(file: Path): Option[Long] = {
    val size = try Files.size(file) catch { case _: java.io.IOException => return None }
    if (size == 0L) return None
    val want = math.min(size, 8192L).toInt
    val ch = FileChannel.open(file, StandardOpenOption.READ)
    try {
      val buf = ByteBuffer.allocate(want)
      var off = 0
      while (off < want) {
        val r = ch.read(buf, size - want + off)
        if (r < 0) return None
        off += r
      }
      val text = new String(buf.array(), 0, want, StandardCharsets.UTF_8)
      val lines = text.split('\n').filter(_.nonEmpty)
      if (lines.isEmpty) None
      else parseLine(lines.last).flatMap(_.pmax)
    } finally ch.close()
  }

  /** The ledger's activity high-water across every file: max `pmax`
    * over last lines (one small tail read per file; a legacy file
    * without `pmax` full-scans). None when no activity was ever logged.
    * This is the "latest ingest mutation clock" the CDF tail cuts its
    * window ends at.
    */
  def maxActivity(activityDir: Path): Option[Long] = {
    val tops = ledgerFiles(activityDir).flatMap { f =>
      lastPmax(f).orElse {
        try {
          val s = Files.lines(f, StandardCharsets.UTF_8)
          try s.iterator().asScala.flatMap(parseLine).map(_.activityTs)
            .maxOption
          finally s.close()
        } catch { case _: java.io.IOException => None }
      }
    }
    tops.maxOption
  }

  private def ledgerFiles(activityDir: Path): Seq[Path] = {
    if (!Files.exists(activityDir)) return Seq.empty
    val s = Files.list(activityDir)
    try s.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".jsonl")).toSeq
    finally s.close()
  }

  /** Partitions with a `"w"` activity row whose `activityTs > fromMs` —
    * the change-planner's "gained in-window rows" key set. Reads each
    * ledger file BACKWARDS, stopping at the first `pmax ≤ fromMs` line.
    */
  def changedSince(activityDir: Path, fromMs: Long): Set[(String, Long)] =
    changedBetween(activityDir, fromMs, Long.MaxValue)

  /** [[changedSince]] with an UPPER bound: partitions with a `"w"` line
    * whose clock bracket intersects `(fromMs, toMs]` — `activityTs`
    * (batch max) above `fromMs` AND `amin` (batch min) at or below
    * `toMs`. A line whose whole bracket lies above `toMs` provably
    * contributes no row visible at the `toMs` snapshot cut, so the key
    * it names need not be planned — which is what makes an
    * admission-control-cut change window CHEAPER than the full backlog,
    * not just smaller. Legacy lines without `amin` stay eligible
    * (conservative superset; merely unpruned).
    */
  def changedBetween(activityDir: Path, fromMs: Long,
      toMs: Long): Set[(String, Long)] = {
    val out = scala.collection.mutable.HashSet.empty[(String, Long)]
    ledgerFiles(activityDir).foreach { f =>
      try scanBackwards(f, fromMs) { a =>
        if (a.kind == "w" && a.activityTs > fromMs &&
            a.amin.forall(_ <= toMs)) {
          out += ((a.tag, a.partitionStart)); ()
        }
      } catch {
        case _: java.io.IOException => () // vanished mid-plan (compaction)
      }
    }
    out.toSet
  }

  /** The admission planner's per-key churn brackets: for every key with
    * a `"w"` line whose `activityTs > fromMs`, the MIN `amin` and MAX
    * `activityTs` over those lines. The min-amin is the earliest window
    * end at which the key becomes plan-eligible; the max-activityTs is
    * the clock past which it stops being eligible for later windows.
    * A legacy line's missing `amin` maps to `Long.MinValue` (eligible
    * from the first window — conservative). Churn-proportional: the
    * same backward `pmax` stop bound as [[changedSince]].
    */
  def churnBrackets(activityDir: Path,
      fromMs: Long): Map[(String, Long), (Long, Long)] = {
    val out = scala.collection.mutable.HashMap
      .empty[(String, Long), (Long, Long)]
    ledgerFiles(activityDir).foreach { f =>
      try scanBackwards(f, fromMs) { a =>
        if (a.kind == "w" && a.activityTs > fromMs) {
          val k = (a.tag, a.partitionStart)
          val lo = a.amin.getOrElse(Long.MinValue)
          out.get(k) match {
            case Some((l0, h0)) =>
              out(k) = (math.min(l0, lo), math.max(h0, a.activityTs))
            case None => out(k) = (lo, a.activityTs)
          }
          ()
        }
      } catch {
        case _: java.io.IOException => ()
      }
    }
    out.toMap
  }

  private def scanBackwards(file: Path, fromMs: Long)(
      each: Act => Unit): Unit = {
    val size = Files.size(file)
    if (size == 0L) return
    val ch = FileChannel.open(file, StandardOpenOption.READ)
    try {
      val chunk = 64 << 10
      var hi = size // exclusive byte bound of the unprocessed region
      var carry = "" // partial first line of the chunk above
      var stop = false
      while (hi > 0 && !stop) {
        val lo = math.max(0L, hi - chunk)
        val buf = ByteBuffer.allocate((hi - lo).toInt)
        var off = 0
        while (off < buf.capacity()) {
          val r = ch.read(buf, lo + off)
          if (r < 0) throw new java.io.IOException(s"short read of $file")
          off += r
        }
        val text = new String(buf.array(), StandardCharsets.UTF_8) + carry
        // the chunk's first "line" may be a tail of a line below `lo`;
        // hold it as carry unless we are at the file start
        val parts = text.split('\n')
        val first = if (lo == 0L) 0 else 1
        carry = if (lo == 0L) "" else parts(0)
        var i = parts.length - 1
        while (i >= first && !stop) {
          val line = parts(i)
          if (line.nonEmpty) parseLine(line).foreach { a =>
            each(a)
            // pmax bounds every line at or below this one
            if (a.pmax.exists(_ <= fromMs)) stop = true
          }
          i -= 1
        }
        hi = lo
      }
    } finally ch.close()
  }

  /** Forward incremental read: every act in the COMPLETE lines appended
    * past `offsets` (file name → bytes already consumed), plus the new
    * offsets. An offset only ever advances through the last `'\n'` read,
    * so a line still being appended (a large `Files.write` reaches the
    * file as several `write` calls) is read whole by a later call, never
    * skipped as malformed. A file that SHRANK (a legacy in-place log
    * compaction) is re-read whole; a vanished file's offset is dropped
    * (a rolled log never reuses its name).
    */
  def tail(activityDir: Path, offsets: Map[String, Long])
      : (Map[String, Long], Seq[Act]) = {
    val acts = scala.collection.mutable.ArrayBuffer.empty[Act]
    val next = scala.collection.mutable.Map.empty[String, Long]
    ledgerFiles(activityDir).foreach { f =>
      val name = f.getFileName.toString
      val prev = offsets.getOrElse(name, 0L)
      next(name) = prev
      try {
        val size = Files.size(f)
        val from = if (prev > size) 0L else prev // compacted below our cursor
        if (size > from) {
          val ch = FileChannel.open(f, StandardOpenOption.READ)
          try {
            val buf = ByteBuffer.allocate((size - from).toInt)
            var off = 0
            while (off < buf.capacity()) {
              val r = ch.read(buf, from + off)
              if (r < 0) throw new java.io.IOException(s"short read of $f")
              off += r
            }
            // '\n' never occurs inside a multi-byte UTF-8 sequence
            val end = buf.array().lastIndexOf('\n'.toByte) + 1
            new String(buf.array(), 0, end, StandardCharsets.UTF_8)
              .split('\n').foreach { line =>
                if (line.nonEmpty) parseLine(line).foreach(acts += _)
              }
            next(name) = from + end
          } finally ch.close()
        }
      } catch { case _: java.io.IOException => () }
    }
    (next.toMap, acts.toSeq)
  }

  /** [[tail]] for the store TAILER: the `"w"`-touched partitions in the
    * complete lines appended past `offsets`, plus the new offsets — so a
    * steady-ingest trigger lists exactly the touched directories.
    */
  def readAppended(activityDir: Path, offsets: Map[String, Long])
      : (Map[String, Long], Set[(String, Long)]) = {
    val (next, acts) = tail(activityDir, offsets)
    (next, acts.iterator.filter(_.kind == "w")
      .map(a => (a.tag, a.partitionStart)).toSet)
  }
}
