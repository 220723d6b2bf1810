package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector over the [[graft.tsdb.TimeSeriesStore]] tier
  * layout (`<nsRoot>/{hot,cold}/tag=<t>/partition_start=<p>/` parquet files).
  *
  * The store's Spark-facing reads normally go through
  * `spark.read.parquet(tierDir)` with Hive partition discovery
  * (TimeSeriesStore.tierDF). That works, but it rediscovers partitions
  * through the generic file index and cannot express store-specific
  * knowledge. This connector is the engine-native read path:
  *
  *  - **Partition pruning at plan time**: `tag = 'x'` / `tag IN (...)`
  *    prunes tag directories, bounds on `partition_start` prune window
  *    directories directly, and bounds on `ts` prune window directories
  *    through the store's width invariant (a row with timestamp t lives in
  *    the directory with `partition_start = t - t % width` — reference
  *    index.js:127-130's partition math). Only surviving directories are
  *    ever listed for files; at 100 TB a one-tag two-day query opens a few
  *    dozen directories out of millions.
  *  - **Column pruning to the parquet footer**: the projected schema is
  *    pushed into the parquet read schema (`parquet.read.schema`), so
  *    unrequested columns are never decoded; directory-encoded columns
  *    (`tag`, `partition_start`) are synthesized per-partition for free.
  *  - **One InputPartition per (tier, tag, window) directory**: reads are
  *    embarrassingly parallel across directories and never shuffle.
  *
  * Exactly-handled filters (tag / partition_start predicates — constant
  * per directory) are consumed by the source; `ts` bounds are used for
  * pruning but handed back to Spark as residuals since rows inside a
  * surviving directory still need the row-level check.
  *
  * Registered as `graft-tsdb` (META-INF/services). Options: `path` (the
  * store namespace root), `tier` (`hot` | `cold` | `all`, default `hot`),
  * `partitionWidth` (ms, must match the store settings' width).
  */
class TsdbTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-tsdb"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TsdbSource.Schema

  override def supportsExternalMetadata(): Boolean = false

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val path = Option(opts.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-tsdb requires option 'path' (the store namespace root)"))
    val tier = Option(opts.get("tier")).getOrElse("hot").toLowerCase
    require(Set("hot", "cold", "all")(tier),
      s"graft-tsdb: tier must be hot|cold|all, got '$tier'")
    val width = Option(opts.get("partitionWidth")).map(_.toLong).getOrElse(
      throw new IllegalArgumentException(
        "graft-tsdb requires option 'partitionWidth' (the store's partition width, ms)"))
    // snapshot option (VERDICT r14 next #3): filter FILES by GC-ledger
    // retirement clock inside the connector's own listing, so a
    // historical read sits BEHIND plan-time directory pruning, runtime
    // DPP, and the footer-aggregate/top-N paths. The retention-horizon
    // guard lives at the store API (TimeSeriesStore.connectorAsOfDF) —
    // the store owns the clock and the grace; a caller passing the raw
    // option owns the horizon the way a raw VACUUM-window reader does.
    val asOf = Option(opts.get("asOf")).map(_.toLong)
    new TsdbTable(path, tier, width, asOf)
  }
}

object TsdbSource {
  /** Logical schema: the store sample schema plus the directory-encoded
    * window column (useful for window-aligned aggregation without
    * recomputing `ts - ts % width`).
    */
  val Schema: StructType = StructType(Seq(
    StructField("tag", StringType, nullable = false),
    StructField("partition_start", LongType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("ingestTs", LongType, nullable = false),
    StructField("writerId", StringType, nullable = false),
    StructField("seq", LongType, nullable = false)))

  /** Columns physically present in tier parquet files, in file order. */
  val PhysicalOrder: Seq[String] = Seq("ts", "value", "ingestTs", "writerId", "seq")
}

/** @param snapshot SQL time-travel mode (`VERSION AS OF` /
  *   `TIMESTAMP AS OF` through [[TsdbCatalog]]): the scan must be a
  *   COMPLETE self-contained snapshot — it additionally unions the
  *   bounded L0 tier (eligible by the same retirement rule) and bounds
  *   every row by `ingestTs <= asOf`, the two steps
  *   [[graft.tsdb.TimeSeriesStore.connectorAsOfDF]] otherwise performs
  *   OUTSIDE the connector. Aggregate/top-N pushdown is refused in this
  *   mode (footer statistics cannot honor the row bound).
  */
final class TsdbTable(nsRoot: String, tier: String, width: Long,
    asOf: Option[Long] = None, snapshot: Boolean = false)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String = s"graft-tsdb(`$nsRoot`, tier=$tier)"

  override def schema(): StructType = TsdbSource.Schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE)

  /** The catalog's time-travel handle: same table, complete-snapshot
    * read semantics at `asOfMs`.
    */
  private[sources] def withSnapshot(asOfMs: Long): TsdbTable =
    new TsdbTable(nsRoot, tier, width, Some(asOfMs), snapshot = true)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TsdbScanBuilder(nsRoot, tier, width, asOf, snapshot)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(tier == "hot",
      s"graft-tsdb: writes append to the hot tier only, got tier=$tier")
    require(asOf.isEmpty, "graft-tsdb: asOf is a read option")
    new TsdbWriteBuilder(nsRoot, width, info.schema(), info.queryId())
  }
}

/** The pushed-down aggregation, normalized: group columns (directory-
  * encoded, constant per split) plus per-aggregate descriptors the footer
  * reader can compute. `schema` is the scan's output in Spark's expected
  * order — group columns first, then aggregate columns.
  */
final case class TsdbAggSpec(
    groupCols: Seq[String], aggs: Seq[TsdbAggSpec.Desc], schema: StructType)

object TsdbAggSpec {
  sealed trait Desc
  /** count(*) / count(non-null col) — footer row counts, no data read. */
  case object RowCount extends Desc
  final case class MinOf(col: String) extends Desc
  final case class MaxOf(col: String) extends Desc
}

/** Pushed LIMIT/top-N, normalized to the directory walk that answers it:
  * sort the (tag, window) directories by `prefix` (the directory-encoded
  * PREFIX of the query's sort keys — column name plus ascending flag;
  * empty for a bare LIMIT), then keep directories in that order until
  * their cumulative row count covers `limit`, extending through boundary
  * ties on the prefix key. Partial pushdown: Spark re-sorts and re-limits
  * the surviving rows, so row-level suffix keys (ts, seq) stay correct.
  */
final case class TsdbTopNSpec(prefix: Seq[(String, Boolean)], limit: Int)

final class TsdbScanBuilder(nsRoot: String, tier: String, width: Long,
    asOf: Option[Long] = None, snapshot: Boolean = false)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit
    with SupportsPushDownTopN {

  private var required: StructType = TsdbSource.Schema
  private var pushed: Array[Filter] = Array.empty
  private var aggSpec: Option[TsdbAggSpec] = None
  private var topNSpec: Option[TsdbTopNSpec] = None

  // ---------------------------------------------- limit / top-N pushdown
  // The reference's newest-first index scan (readIndex walks window
  // directories newest-first and stops at the page budget) as a DSv2
  // optimization: when the query's sort prefix is directory-encoded —
  // `ORDER BY partition_start DESC ... LIMIT k` is exactly the serving
  // pattern — the source walks directories in that order and keeps only
  // enough to cover k rows (footer row counts, no data read). Rows in a
  // dropped directory sort strictly after every kept row on the prefix,
  // so the kept set is a superset of any true top-k; Spark's final
  // sort+limit (partial pushdown) handles row-level suffix keys.

  override def isPartiallyPushed(): Boolean = true

  override def pushLimit(n: Int): Boolean = {
    if (aggSpec.nonEmpty || snapshot) return false // defensive: never co-offered by Spark
    topNSpec = Some(TsdbTopNSpec(Nil, n))
    true
  }

  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    if (aggSpec.nonEmpty || snapshot) return false
    import org.apache.spark.sql.connector.expressions.SortDirection
    val prefix = orders.toSeq
      .map(o => (refName(o.expression()),
        o.direction() == SortDirection.ASCENDING))
      .takeWhile(_._1.exists(Set("tag", "partition_start")))
      .map { case (c, asc) => (c.get, asc) }
    if (prefix.isEmpty) return false
    topNSpec = Some(TsdbTopNSpec(prefix, n))
    true
  }

  // ---------------------------------------------- aggregate pushdown
  // The 100 TB metadata path: COUNT/MIN/MAX over the layout need only
  // parquet FOOTERS — row counts and int64 column statistics — so a
  // store-wide `count(*)` or a per-(tag, window) min/max rollup reads a
  // few KB per directory instead of the data pages. Pushdown is partial
  // (`supportCompletePushDown` = false): each split emits one pre-
  // aggregated row and Spark runs the final merge, so a retried/split
  // task can never double-count. Spark only offers an Aggregate for
  // pushdown when NO residual filter sits between it and the scan — `ts`
  // bounds stay residual by design (pushFilters), so any row-level
  // predicate automatically falls back to the data-reading plan.

  /** int64 columns whose parquet statistics the store's own writers
    * always populate; string stats (value/writerId/tag) are refused —
    * parquet may truncate binary stats, which would be silently wrong.
    */
  private val statCols = Set("ts", "ingestTs", "seq", "partition_start")

  private def refName(
      e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case r: org.apache.spark.sql.connector.expressions.NamedReference
          if r.fieldNames.length == 1 => Some(r.fieldNames.head)
      case _ => None
    }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = false

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    // snapshot mode: footer row counts / int64 stats describe WHOLE
    // files and cannot honor the `ingestTs <= asOf` row bound
    if (snapshot) return false
    import org.apache.spark.sql.connector.expressions.aggregate._
    val groupCols = agg.groupByExpressions.toSeq.map(refName)
    // only directory-encoded columns are constant per split — any other
    // grouping needs the rows themselves
    if (!groupCols.forall(_.exists(Set("tag", "partition_start")))) return false
    val descs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(TsdbAggSpec.RowCount)
      case c: Count if !c.isDistinct =>
        // every schema column is non-null, so count(col) == count(*)
        refName(c.column).filter(TsdbSource.Schema.fieldNames.contains)
          .map(_ => TsdbAggSpec.RowCount)
      case m: Min => refName(m.column).filter(statCols).map(TsdbAggSpec.MinOf)
      case m: Max => refName(m.column).filter(statCols).map(TsdbAggSpec.MaxOf)
      case _ => None
    }
    if (descs.exists(_.isEmpty)) return false
    val names = groupCols.map(_.get)
    val fields = names.map(n => TsdbSource.Schema(TsdbSource.Schema.fieldIndex(n))) ++
      descs.flatten.map {
        case TsdbAggSpec.RowCount => StructField("count", LongType, nullable = false)
        case TsdbAggSpec.MinOf(c) => StructField(s"min_$c", LongType, nullable = true)
        case TsdbAggSpec.MaxOf(c) => StructField(s"max_$c", LongType, nullable = true)
      }
    aggSpec = Some(TsdbAggSpec(names, descs.flatten, StructType(fields)))
    true
  }

  /** A predicate on a directory-encoded column holds for every row of a
    * surviving directory, so the source evaluates it exactly; `ts` bounds
    * only prune directories and stay residual.
    */
  private def exactlyHandled(f: Filter): Boolean = f match {
    case IsNotNull(a) => TsdbSource.Schema.fieldNames.contains(a) // all non-null
    case EqualTo("tag", _: String) => true
    case In("tag", vs) => vs.forall(_.isInstanceOf[String])
    case EqualTo("partition_start", _) | GreaterThan("partition_start", _) |
         GreaterThanOrEqual("partition_start", _) | LessThan("partition_start", _) |
         LessThanOrEqual("partition_start", _) => true
    case _ => false
  }

  private def pruningAid(f: Filter): Boolean = f match {
    case EqualTo("ts", _) | GreaterThan("ts", _) | GreaterThanOrEqual("ts", _) |
         LessThan("ts", _) | LessThanOrEqual("ts", _) => true
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => exactlyHandled(f) || pruningAid(f))
    filters.filterNot(exactlyHandled)
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new TsdbScan(nsRoot, tier, width, required, pushed, aggSpec, topNSpec,
      asOf, snapshot)
}

final class TsdbScan(
    nsRoot: String,
    tier: String,
    width: Long,
    required: StructType,
    pushed: Array[Filter],
    aggSpec: Option[TsdbAggSpec] = None,
    topNSpec: Option[TsdbTopNSpec] = None,
    asOf: Option[Long] = None,
    snapshot: Boolean = false)
    extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportStatistics with SupportsReportPartitioning {

  override def readSchema(): StructType = aggSpec.map(_.schema).getOrElse(required)

  override def toBatch: Batch = this

  /** The layout IS a partitioning: every input split holds exactly one
    * (tag, partition_start) group, so with v2 bucketing enabled
    * (`spark.sql.sources.v2.bucketing.enabled`) a groupBy on the layout
    * keys — every window-aligned rollup — runs with NO exchange:
    * storage-partitioned execution, the shuffle-free 100 TB downsample
    * path. Reported only while both key columns survive column pruning
    * (the expressions resolve against the scan output).
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    if (perDirSplits && l0SnapshotParts.isEmpty &&
      Seq("tag", "partition_start").forall(readSchema().fieldNames.contains))
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(
          org.apache.spark.sql.connector.expressions.Expressions.identity("tag"),
          org.apache.spark.sql.connector.expressions.Expressions.identity("partition_start")),
        planned._1.length)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
        groupedSplits.length)
  }

  /** Post-prune size estimate from the surviving directories' file
    * lengths — so the planner can pick a broadcast join when a pruned
    * connector read is small, without a manual `broadcast()` hint. The
    * decoded estimate scales raw parquet bytes by 4 (snappy text columns
    * decode several-fold larger; overestimating is the safe direction
    * for a broadcast decision).
    */
  override def estimateStatistics(): Statistics = {
    val bytes = (planned._1.iterator.flatMap(_.files.iterator) ++
        l0SnapshotParts.iterator.flatMap(_.files.iterator))
      .map(f => try Files.size(Paths.get(f)) catch { case _: Throwable => 0L })
      .sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(bytes * 4, 1L))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }

  // ---------------------------------------------- runtime re-pruning
  // Dynamic partition pruning, DSv2-style: when this table joins a small
  // dimension on a directory-encoded column, Spark hands the broadcast
  // side's key set here at RUNTIME (an `In` filter) and the directory
  // prune re-runs with it — a 100 TB fact scan driven by a dim filter
  // never lists the unmatched tag/window directories.

  @volatile private var runtimeFilters: Array[Filter] = Array.empty
  @volatile private var plannedCache: (Array[TsdbInputPartition], Int) = _

  /** Only attributes surviving column pruning — Spark resolves these
    * against the scan's OUTPUT, so naming a pruned column is an analysis
    * error, not a no-op.
    */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Seq("tag", "partition_start")
      .filter(readSchema().fieldNames.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  override def filter(filters: Array[Filter]): Unit = {
    runtimeFilters = filters
    plannedCache = null
  }

  // -------------------------------------------------- directory pruning

  private def asLong(v: Any): Long = v match {
    case n: Number => n.longValue()
    case other => other.toString.toLong
  }

  /** (surviving partitions, total window directories seen). Driver-side,
    * recomputed when runtime filters arrive; only surviving directories
    * are file-listed.
    */
  private def planned: (Array[TsdbInputPartition], Int) = {
    val cached = plannedCache
    if (cached != null) return cached
    val computed = computePlanned()
    plannedCache = computed
    computed
  }

  private def computePlanned(): (Array[TsdbInputPartition], Int) = {
    var tsLo = Long.MinValue; var tsHi = Long.MaxValue
    var psLo = Long.MinValue; var psHi = Long.MaxValue
    var psIn: Option[Set[Long]] = None
    var tags: Option[Set[String]] = None
    def addTags(s: Set[String]): Unit =
      tags = Some(tags.fold(s)(_ intersect s))
    (pushed ++ runtimeFilters).foreach {
      case In("partition_start", vs) =>
        val s = vs.map(asLong).toSet
        psIn = Some(psIn.fold(s)(_ intersect s))
      // runtime filter values may arrive as UTF8String — normalize via
      // toString (dropping a value here would WRONGLY prune its directory)
      case EqualTo("tag", v) if v != null => addTags(Set(v.toString))
      case In("tag", vs) => addTags(vs.filter(_ != null).map(_.toString).toSet)
      case EqualTo("ts", v) => tsLo = math.max(tsLo, asLong(v)); tsHi = math.min(tsHi, asLong(v))
      case GreaterThan("ts", v) => tsLo = math.max(tsLo, Math.addExact(asLong(v), 1))
      case GreaterThanOrEqual("ts", v) => tsLo = math.max(tsLo, asLong(v))
      case LessThan("ts", v) => tsHi = math.min(tsHi, Math.subtractExact(asLong(v), 1))
      case LessThanOrEqual("ts", v) => tsHi = math.min(tsHi, asLong(v))
      case EqualTo("partition_start", v) => psLo = math.max(psLo, asLong(v)); psHi = math.min(psHi, asLong(v))
      case GreaterThan("partition_start", v) => psLo = math.max(psLo, Math.addExact(asLong(v), 1))
      case GreaterThanOrEqual("partition_start", v) => psLo = math.max(psLo, asLong(v))
      case LessThan("partition_start", v) => psHi = math.min(psHi, Math.subtractExact(asLong(v), 1))
      case LessThanOrEqual("partition_start", v) => psHi = math.min(psHi, asLong(v))
      case _ => ()
    }
    // ts bounds → window bounds via the width invariant
    if (tsHi != Long.MaxValue) psHi = math.min(psHi, tsHi)
    if (tsLo != Long.MinValue) psLo = math.max(psLo, tsLo - math.floorMod(tsLo, width))

    def subDirs(d: Path, prefix: String): Seq[Path] =
      if (!Files.isDirectory(d)) Seq.empty
      else {
        val s = Files.list(d)
        try s.iterator().asScala
          .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(prefix))
          .toSeq
        finally s.close()
      }

    // GC-ledger retirement clocks, read once per planning (O(pending
    // entries) — the metadata-plane cost class). Two uses:
    //  - CURRENT reads exclude every pending file: it is superseded by
    //    its published replacement or holds physically-DELETED rows no
    //    survivor supersedes — including it would resurrect a forget
    //    (the same rule the store's own fresh listings apply).
    //  - `asOf` reads keep exactly the files retired AFTER the snapshot
    //    instant (they were live at T and the grace holds them on disk),
    //    dropping those retired at or before it — Iceberg's
    //    snapshot-file-set rule, evaluated inside the pruned listing so
    //    a one-tag historical read still never lists a pruned tag dir.
    val retiredAt =
      graft.tsdb.GcLedger.retirementClocks(Paths.get(nsRoot, "gc"))
    def keepFile(p: Path): Boolean = {
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".") && {
        retiredAt.get(p.toAbsolutePath.normalize) match {
          case None => true
          case Some(clock) => asOf.exists(t => clock > t)
        }
      }
    }

    val tierNames = if (tier == "all") Seq("hot", "cold") else Seq(tier)
    val parts = ArrayBuffer.empty[TsdbInputPartition]
    var total = 0
    tierNames.foreach { tn =>
      subDirs(Paths.get(nsRoot, tn), "tag=").foreach { tagDir =>
        val tag = ExternalCatalogUtils.unescapePathName(
          tagDir.getFileName.toString.stripPrefix("tag="))
        val tagOk = tags.forall(_.contains(tag))
        subDirs(tagDir, "partition_start=").foreach { pd =>
          total += 1
          val ps = pd.getFileName.toString.stripPrefix("partition_start=").toLong
          if (tagOk && ps >= psLo && ps <= psHi && psIn.forall(_.contains(ps))) {
            val s = Files.list(pd)
            val files =
              try s.iterator().asScala.filter(keepFile).map(_.toString).toArray
              finally s.close()
            if (files.nonEmpty) parts += TsdbInputPartition(tag, ps, files)
          }
        }
      }
    }
    (applyTopN(parts.toArray), total)
  }

  /** Footer row count of a directory's files (driver-side metadata read —
    * the same walk the reference's readIndex does newest-first). Served
    * from [[graft.tsdb.FooterCache]]: repeat walks over the immutable
    * layout cost two stat calls per file instead of a file open.
    */
  private def dirRows(p: TsdbInputPartition): Long =
    p.files.iterator.map(f => graft.tsdb.FooterCache.get(f).rows).sum

  /** Keep only the directories a pushed LIMIT/top-N needs: sort by the
    * directory-encoded sort prefix, accumulate footer row counts until
    * the limit is covered, then extend through boundary ties on the
    * prefix key (two directories can share a prefix value — e.g. the same
    * window across tags — and dropping a tied one could lose true top-k
    * rows).
    */
  private def applyTopN(parts: Array[TsdbInputPartition]): Array[TsdbInputPartition] =
    topNSpec match {
      case None => parts
      case Some(TsdbTopNSpec(prefix, limit)) =>
        def key(p: TsdbInputPartition): Seq[Any] = prefix.map {
          case ("tag", _) => p.tag
          case ("partition_start", _) => p.partitionStart
        }
        val ord: Ordering[TsdbInputPartition] = new Ordering[TsdbInputPartition] {
          override def compare(x: TsdbInputPartition, y: TsdbInputPartition): Int = {
            val it = prefix.iterator
            while (it.hasNext) {
              val (c, asc) = it.next()
              val cmp = c match {
                case "tag" => x.tag.compareTo(y.tag)
                case "partition_start" =>
                  java.lang.Long.compare(x.partitionStart, y.partitionStart)
              }
              if (cmp != 0) return if (asc) cmp else -cmp
            }
            0
          }
        }
        val sorted = parts.sorted(ord)
        var acc = 0L
        var cut = 0
        while (cut < sorted.length && acc < limit.toLong) {
          acc += dirRows(sorted(cut)); cut += 1
        }
        // boundary ties on the prefix key (a bare LIMIT has no prefix and
        // therefore no tie rule — any covering set of directories is valid)
        if (prefix.nonEmpty) {
          while (cut < sorted.length &&
            key(sorted(cut)) == key(sorted(cut - 1))) cut += 1
        }
        sorted.take(cut)
    }

  /** Whether to keep ONE split per directory (required for
    * KeyGroupedPartitioning / storage-partitioned execution) or to
    * coalesce many directories into one task. Per-dir splits at a small
    * SF mean thousands of near-empty tasks whose scheduling dominates the
    * scan (measured 7.8 s for a 3,720-dir metadata walk); grouped splits
    * cut that to ~3 tasks/core. Storage-partitioned execution needs the
    * per-dir shape, so it wins when v2 bucketing is on — except in agg
    * mode, where Spark's final merge shuffles the one-row-per-dir output
    * anyway and grouping loses nothing.
    */
  private def perDirSplits: Boolean =
    aggSpec.isEmpty && (try org.apache.spark.sql.SparkSession.active.conf
      .get("spark.sql.sources.v2.bucketing.enabled", "false") == "true"
    catch { case _: Throwable => false })

  private def groupedSplits: Array[InputPartition] = {
    val parts = planned._1
    if (perDirSplits) return parts.toArray[InputPartition]
    val slots = math.max(1,
      try org.apache.spark.sql.SparkSession.active.sparkContext
        .defaultParallelism * 3
      catch { case _: Throwable => 32 })
    if (parts.length <= slots) parts.toArray[InputPartition]
    else Array.tabulate(slots)(i =>
      TsdbManyDirPartition(
        parts.zipWithIndex.filter(_._2 % slots == i).map(_._1)))
      .filter(_.dirs.nonEmpty).toArray[InputPartition]
  }

  /** Snapshot mode's L0 leg: the bounded batch tier (at most
    * `Limits.L0FlushFileCount` files by the flush invariant) joins the
    * time-travel file set under the same retirement rule as the tier
    * listing — a file retired at or before the snapshot is dropped, one
    * retired after it (grace-held) stays. L0 files span tags, so they
    * cannot ride [[TsdbInputPartition]] (whose readers synthesize the
    * key columns from directory names): each file becomes its own
    * [[TsdbL0SnapshotPartition]] carrying the STATIC exactly-handled
    * pushed filters, which its reader re-evaluates row-wise (Spark
    * dropped them trusting the source).
    */
  private lazy val l0SnapshotParts: Array[TsdbL0SnapshotPartition] = {
    if (!snapshot || asOf.isEmpty || tier == "cold") Array.empty
    else {
      val l0 = Paths.get(nsRoot, "l0")
      if (!Files.isDirectory(l0)) Array.empty
      else {
        val retiredAt =
          graft.tsdb.GcLedger.retirementClocks(Paths.get(nsRoot, "gc"))
        val files = {
          val s = Files.list(l0)
          try s.iterator().asScala.filter { p =>
            val n = p.getFileName.toString
            n.endsWith(".parquet") && !n.startsWith(".") && {
              retiredAt.get(p.toAbsolutePath.normalize) match {
                case None => true
                case Some(clock) => asOf.exists(t => clock > t)
              }
            }
          }.map(_.toString).toArray
          finally s.close()
        }
        files.map(f => TsdbL0SnapshotPartition(Array(f), pushed))
      }
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    groupedSplits ++ l0SnapshotParts

  override def createReaderFactory(): PartitionReaderFactory =
    aggSpec match {
      case Some(spec) => TsdbAggReaderFactory(spec)
      case None =>
        TsdbReaderFactory(required, if (snapshot) asOf else None)
    }

  // ---------------------------------------------- observability
  // Custom SQL metrics (Spark UI / SQLMetrics): what the 100 TB operator
  // actually wants to see on a scan — how many directories the pruning
  // kept, how many files were physically opened, and how many rows were
  // answered from footer metadata alone (the agg-pushdown path's whole
  // point). Task metrics sum across executors; the directory counts are
  // driver metrics reported at planning.

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(
      TsdbMetrics.sum("filesOpened", "data files opened"),
      TsdbMetrics.sum("rowsFromFooters", "rows answered from footer metadata"),
      TsdbMetrics.sum("dirsKept", "directories kept after pruning"),
      TsdbMetrics.sum("dirsTotal", "directories seen before pruning"))

  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val (kept, total) = (planned._1.length.toLong, planned._2.toLong)
    Array(TsdbMetrics.task("dirsKept", kept), TsdbMetrics.task("dirsTotal", total))
  }

  override def description(): String = {
    val (kept, total) = (planned._1.length, planned._2)
    val aggs = aggSpec.fold("")(s =>
      s"PushedAggregates: [${s.aggs.mkString(", ")}] " +
        s"GroupBy: [${s.groupCols.mkString(", ")}], ")
    val topn = topNSpec.fold("")(s =>
      s"PushedTopN: [${s.prefix.map { case (c, asc) =>
        s"$c ${if (asc) "ASC" else "DESC"}" }.mkString(", ")}] " +
        s"limit=${s.limit}, ")
    s"TsdbScan tier=$tier dirs=$kept/$total " +
      aggs + topn +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${readSchema().simpleString}"
  }
}

/** One store directory = one Spark partition: (tag, window, its files).
  * Carries its (tag, partition_start) key so the scan can report
  * KeyGroupedPartitioning — storage-partitioned execution.
  */
final case class TsdbInputPartition(
    tag: String, partitionStart: Long, files: Array[String])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](UTF8String.fromString(tag), partitionStart))
}

/** Many directories in one task — the coalesced shape used whenever
  * storage-partitioned execution isn't in play (no partition key: the
  * split spans keys).
  */
final case class TsdbManyDirPartition(dirs: Array[TsdbInputPartition])
    extends InputPartition

/** One L0 batch file of a SQL time-travel snapshot: rows span tags, so
  * `tag`/`partition_start` are read from the file's own columns (L0
  * files carry both — ParquetIO batch schema) instead of directory
  * names. Carries the scan's static pushed filters for row-wise
  * re-evaluation.
  */
final case class TsdbL0SnapshotPartition(
    files: Array[String], pushed: Array[Filter]) extends InputPartition

private object TsdbSplit {
  def dirsOf(partition: InputPartition): Array[TsdbInputPartition] =
    partition match {
      case one: TsdbInputPartition => Array(one)
      case many: TsdbManyDirPartition => many.dirs
    }
}

/** Shared mutable counters one reader (or a multi-dir chain) accumulates
  * into; surfaced as DSv2 custom task metrics.
  */
final class TsdbReadCounters {
  var filesOpened: Long = 0L
  var rowsFromFooters: Long = 0L
}

/** Named top-level CustomSumMetric: Spark's `SQLAppStatusListener`
  * re-instantiates the metric class REFLECTIVELY (zero-arg constructor)
  * when aggregating for the UI — an anonymous subclass has a hidden
  * outer-scope constructor parameter, so every query over the connector
  * logged a "did not have a zero-argument constructor" SparkException
  * warning and lost its UI metric aggregation (round-8 bench logs).
  */
final class TsdbSumMetric(n: String, desc: String)
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  def this() = this("", "")
  override def name(): String = n
  override def description(): String = desc
}

object TsdbMetrics {
  def sum(n: String, desc: String)
      : org.apache.spark.sql.connector.metric.CustomMetric =
    new TsdbSumMetric(n, desc)
  def task(n: String, v: Long)
      : org.apache.spark.sql.connector.metric.CustomTaskMetric =
    new org.apache.spark.sql.connector.metric.CustomTaskMetric {
      override def name(): String = n
      override def value(): Long = v
    }
}

/** @param snapshotAsOf when set (SQL time-travel mode), every reader
  *   additionally bounds rows by `ingestTs <= asOf` — the row half of
  *   the snapshot rule (the file half is the retirement-clock listing).
  */
final case class TsdbReaderFactory(schema: StructType,
    snapshotAsOf: Option[Long] = None) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val counters = new TsdbReadCounters
    partition match {
      case l0: TsdbL0SnapshotPartition =>
        new TsdbL0SnapshotReader(l0, schema,
          snapshotAsOf.getOrElse(Long.MaxValue), counters)
      case _ =>
        new TsdbMultiDirReader(TsdbSplit.dirsOf(partition),
          d => new TsdbPartitionReader(d, schema, counters, snapshotAsOf),
          counters)
    }
  }
}

/** Chains per-directory readers across a coalesced split. */
final class TsdbMultiDirReader(
    dirs: Array[TsdbInputPartition],
    mk: TsdbInputPartition => PartitionReader[InternalRow],
    counters: TsdbReadCounters)
    extends PartitionReader[InternalRow] {
  private var i = 0
  private var cur: PartitionReader[InternalRow] = _
  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (i >= dirs.length) return false
        cur = mk(dirs(i)); i += 1
      }
      if (cur.next()) return true
      cur.close(); cur = null
    }
    false
  }
  override def get(): InternalRow = cur.get()
  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(TsdbMetrics.task("filesOpened", counters.filesOpened),
      TsdbMetrics.task("rowsFromFooters", counters.rowsFromFooters))
}

final case class TsdbAggReaderFactory(spec: TsdbAggSpec) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val counters = new TsdbReadCounters
    new TsdbMultiDirReader(TsdbSplit.dirsOf(partition),
      d => new TsdbAggPartitionReader(d, spec, counters), counters)
  }
}

/** Executor-side FOOTER aggregate reader: one pre-aggregated row per
  * (tag, window) split, computed from parquet metadata — block row
  * counts for COUNT, int64 column statistics for MIN/MAX — without
  * decoding a single data page. A file whose footer lacks a usable
  * statistic (foreign writer, truncated stats) falls back to scanning
  * just that column of just that file; store-written files always carry
  * stats, so the fallback is a correctness net, not a hot path.
  */
final class TsdbAggPartitionReader(p: TsdbInputPartition, spec: TsdbAggSpec,
    counters: TsdbReadCounters = new TsdbReadCounters)
    extends PartitionReader[InternalRow] {

  private var emitted = false

  /** Columns needing min/max; `partition_start` is directory-encoded and
    * never consults the footer.
    */
  private val statCols: Seq[String] = spec.aggs.collect {
    case TsdbAggSpec.MinOf(c) if c != "partition_start" => c
    case TsdbAggSpec.MaxOf(c) if c != "partition_start" => c
  }.distinct

  private def fileStats(file: String): (Long, Map[String, (Long, Long)]) = {
    val meta = graft.tsdb.FooterCache.get(file,
      onMiss = () => counters.filesOpened += 1)
    val have = statCols.filter(meta.stats.contains)
      .map(c => c -> meta.stats(c)).toMap
    val missing = statCols.filter(meta.statless.contains)
    if (missing.isEmpty) (meta.rows, have)
    else (meta.rows, have ++ rescan(file, missing))
  }

  /** Stats-less fallback: decode only `cols` of this one file. */
  private def rescan(file: String, cols: Seq[String]): Map[String, (Long, Long)] = {
    val reader = new graft.tsdb.ParquetIO.GroupFileStream(
      Paths.get(file), Some(cols))
    counters.filesOpened += 1
    val mins = Array.fill(cols.length)(Long.MaxValue)
    val maxs = Array.fill(cols.length)(Long.MinValue)
    var any = false
    try {
      var g = reader.next()
      while (g != null) {
        any = true
        var i = 0
        while (i < cols.length) {
          val v = g.getLong(cols(i), 0)
          if (v < mins(i)) mins(i) = v
          if (v > maxs(i)) maxs(i) = v
          i += 1
        }
        g = reader.next()
      }
    } finally reader.close()
    if (!any) Map.empty
    else cols.zipWithIndex.map { case (c, i) => c -> (mins(i), maxs(i)) }.toMap
  }

  override def next(): Boolean = !emitted && { emitted = true; true }

  override def get(): InternalRow = {
    var count = 0L
    var mins = Map.empty[String, Long]
    var maxs = Map.empty[String, Long]
    p.files.foreach { f =>
      val (rows, mm) = fileStats(f)
      counters.rowsFromFooters += rows
      count += rows
      mm.foreach { case (c, (lo, hi)) =>
        mins = mins.updated(c, math.min(lo, mins.getOrElse(c, Long.MaxValue)))
        maxs = maxs.updated(c, math.max(hi, maxs.getOrElse(c, Long.MinValue)))
      }
    }
    val groupVals: Seq[Any] = spec.groupCols.map {
      case "tag" => UTF8String.fromString(p.tag)
      case "partition_start" => p.partitionStart
    }
    def stat(c: String, m: Map[String, Long]): Any =
      if (c == "partition_start") { if (count > 0) p.partitionStart else null }
      else m.get(c).map(Long.box).orNull
    val aggVals: Seq[Any] = spec.aggs.map {
      case TsdbAggSpec.RowCount => count
      case TsdbAggSpec.MinOf(c) => stat(c, mins)
      case TsdbAggSpec.MaxOf(c) => stat(c, maxs)
    }
    new GenericInternalRow((groupVals ++ aggVals).toArray)
  }

  override def close(): Unit = ()
}

/** Executor-side reader: streams the directory's parquet files through
  * the projection-pushed local page reader
  * ([[graft.tsdb.ParquetIO.GroupFileStream]] — one open per file, no
  * Hadoop/checksum layer; only requested columns are decoded) and
  * synthesizes the directory-encoded `tag`/`partition_start` values
  * without touching the file bytes. The projection is built from each
  * file's own footer schema (via the footer cache), because parquet's
  * schema-containment check requires the requested repetition to match
  * the file's, and a store legitimately mixes `required` files (the
  * serving-path writer, ParquetIO.partFileSchema) with `optional` ones
  * (the distributed bulk lane writes Spark-nullable columns).
  */
final class TsdbPartitionReader(p: TsdbInputPartition, schema: StructType,
    counters: TsdbReadCounters = new TsdbReadCounters,
    ingestBound: Option[Long] = None)
    extends PartitionReader[InternalRow] {

  private val physical: Seq[String] =
    TsdbSource.PhysicalOrder.filter(schema.fieldNames.contains)
  // a pure-count or dir-column-only projection still needs one physical
  // column to drive row iteration; `seq` is a fixed-width int64.
  // A snapshot read decodes `ingestTs` even when unprojected — the row
  // bound needs it.
  private val readCols = {
    val base = if (physical.isEmpty) Seq("seq") else physical
    if (ingestBound.isDefined && !base.contains("ingestTs"))
      base :+ "ingestTs"
    else base
  }

  private val tagU8 = UTF8String.fromString(p.tag)
  private var fileIdx = 0
  private var reader: graft.tsdb.ParquetIO.GroupFileStream = _
  private var current: Group = _

  override def next(): Boolean = {
    while (true) {
      if (reader == null) {
        if (fileIdx >= p.files.length) return false
        reader = new graft.tsdb.ParquetIO.GroupFileStream(
          Paths.get(p.files(fileIdx)), Some(readCols))
        counters.filesOpened += 1
        fileIdx += 1
      }
      current = reader.next()
      if (current != null &&
          ingestBound.forall(current.getLong("ingestTs", 0) <= _))
        return true
      if (current == null) { reader.close(); reader = null }
    }
    false
  }

  override def get(): InternalRow = {
    val vals = new Array[Any](schema.length)
    var i = 0
    schema.fields.foreach { f =>
      vals(i) = f.name match {
        case "tag"             => tagU8
        case "partition_start" => p.partitionStart
        case "ts"              => current.getLong("ts", 0)
        case "value"           => UTF8String.fromString(current.getString("value", 0))
        case "ingestTs"        => current.getLong("ingestTs", 0)
        case "writerId"        => UTF8String.fromString(current.getString("writerId", 0))
        case "seq"             => current.getLong("seq", 0)
      }
      i += 1
    }
    new GenericInternalRow(vals)
  }

  override def close(): Unit =
    if (reader != null) { reader.close(); reader = null }
}

/** Executor-side reader for one L0 batch file of a time-travel snapshot:
  * streams the file through the same local page reader, takes
  * `tag`/`partition_start` from the FILE's columns (an L0 batch spans
  * tags — ParquetIO.scala batch schema), bounds rows by
  * `ingestTs <= asOf`, and re-evaluates the scan's exactly-handled
  * static filters (tag equality/IN, partition_start comparisons) that
  * Spark dropped trusting the source.
  */
final class TsdbL0SnapshotReader(p: TsdbL0SnapshotPartition,
    schema: StructType, asOf: Long, counters: TsdbReadCounters)
    extends PartitionReader[InternalRow] {

  private val readCols = {
    val requested = TsdbSource.PhysicalOrder.filter(schema.fieldNames.contains)
    (requested ++ Seq("tag", "partition_start", "ingestTs")).distinct
  }
  private def asLong(v: Any): Long = v match {
    case n: Number => n.longValue()
    case other => other.toString.toLong
  }
  private def keep(tag: String, ps: Long): Boolean =
    p.pushed.forall {
      case EqualTo("tag", v) => v != null && tag == v.toString
      case In("tag", vs) => vs.exists(v => v != null && tag == v.toString)
      case EqualTo("partition_start", v) => ps == asLong(v)
      case GreaterThan("partition_start", v) => ps > asLong(v)
      case GreaterThanOrEqual("partition_start", v) => ps >= asLong(v)
      case LessThan("partition_start", v) => ps < asLong(v)
      case LessThanOrEqual("partition_start", v) => ps <= asLong(v)
      case _ => true // residuals (ts bounds, IsNotNull) — Spark re-applies
    }

  private var fileIdx = 0
  private var reader: graft.tsdb.ParquetIO.GroupFileStream = _
  private var current: Group = _

  override def next(): Boolean = {
    while (true) {
      if (reader == null) {
        if (fileIdx >= p.files.length) return false
        reader = new graft.tsdb.ParquetIO.GroupFileStream(
          Paths.get(p.files(fileIdx)), Some(readCols))
        counters.filesOpened += 1
        fileIdx += 1
      }
      current = reader.next()
      if (current == null) { reader.close(); reader = null }
      else if (current.getLong("ingestTs", 0) <= asOf &&
          keep(current.getString("tag", 0),
            current.getLong("partition_start", 0)))
        return true
    }
    false
  }

  override def get(): InternalRow = {
    val vals = new Array[Any](schema.length)
    var i = 0
    schema.fields.foreach { f =>
      vals(i) = f.name match {
        case "tag"             => UTF8String.fromString(current.getString("tag", 0))
        case "partition_start" => current.getLong("partition_start", 0)
        case "ts"              => current.getLong("ts", 0)
        case "value"           => UTF8String.fromString(current.getString("value", 0))
        case "ingestTs"        => current.getLong("ingestTs", 0)
        case "writerId"        => UTF8String.fromString(current.getString("writerId", 0))
        case "seq"             => current.getLong("seq", 0)
      }
      i += 1
    }
    new GenericInternalRow(vals)
  }

  override def close(): Unit =
    if (reader != null) { reader.close(); reader = null }

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(TsdbMetrics.task("filesOpened", counters.filesOpened),
      TsdbMetrics.task("rowsFromFooters", counters.rowsFromFooters))
}

// ======================================================= write path

/** DSv2 batch append into the hot tier, with a real two-phase commit:
  * every task streams its rows into per-(tag, window) files under a
  * query-scoped staging directory (speculative/retried attempts write to
  * attempt-unique paths and are simply never published), task commit
  * messages carry the staged-file manifest, and the DRIVER publishes by
  * atomic rename into `hot/tag=…/partition_start=…/` — readers never see
  * a partial task. Activity bookkeeping (one `"w"` row per touched
  * window, the purge scheduler's input) is appended once at commit, like
  * the store's own bulk lane (TimeSeriesStore.writeSamplesDistributed).
  *
  * The input must carry the full 7-column table schema; `partition_start`
  * is validated per row against the width invariant (the connector's
  * analog of the store's partitioning-transform validation) — a
  * mismatched row fails the write rather than landing in a directory
  * reads would never prune to.
  */
final class TsdbWriteBuilder(
    nsRoot: String, width: Long, schema: StructType, queryId: String)
    extends org.apache.spark.sql.connector.write.WriteBuilder {
  override def build(): org.apache.spark.sql.connector.write.Write = {
    val expected = TsdbSource.Schema.fields.map(f => f.name -> f.dataType).toMap
    schema.fields.foreach { f =>
      val want = expected.getOrElse(f.name, throw new IllegalArgumentException(
        s"graft-tsdb write: unexpected column '${f.name}' " +
          s"(table columns: ${TsdbSource.Schema.fieldNames.mkString(", ")})"))
      require(f.dataType == want,
        s"graft-tsdb write: column '${f.name}' must be $want, got ${f.dataType}")
    }
    val missing = expected.keySet -- schema.fieldNames.toSet
    require(missing.isEmpty,
      s"graft-tsdb write: missing columns ${missing.mkString(", ")}")
    new TsdbWrite(nsRoot, width, schema, queryId)
  }
}

final case class TsdbStagedFile(
    srcRel: String, destRel: String, tag: String, pStart: Long,
    maxIngestTs: Long, rows: Long)

final case class TsdbCommitMessage(entries: Array[TsdbStagedFile])
  extends org.apache.spark.sql.connector.write.WriterCommitMessage

final class TsdbWrite(
    nsRoot: String, width: Long, schema: StructType, queryId: String)
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.BatchWrite
    with org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private val stagingRel = s"tmp/dsv2-$queryId"

  // both parent defaults agree (true); Scala requires the explicit pick
  override def useCommitCoordinator(): Boolean = true

  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite = this

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory =
    TsdbWriterFactory(nsRoot, stagingRel, width, schema)

  override def commit(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
    publish(stagingRel, queryId, messages)

  override def abort(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
    deleteRecursively(Paths.get(nsRoot, stagingRel))

  // ------------------------------------------------- streaming sink
  // `writeStream.format("graft-tsdb")`: each epoch stages under its own
  // directory and publishes on epoch commit — the micro-batch inherits
  // the same atomic-rename protocol as the batch write. If the driver
  // dies BETWEEN publishing files and the checkpoint advancing, the
  // epoch replays and its rows append again (at-least-once, like Spark's
  // own file sink without a manifest log); the store's LWW read semantics
  // make such replays invisible to readers because a replayed row carries
  // the identical (tag, ts, ingestTs, writerId, seq) identity.

  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite = this

  override def createStreamingWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    TsdbStreamingWriterFactory(nsRoot, stagingRel, width, schema)

  override def commit(
      epochId: Long,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
    publish(s"$stagingRel-e$epochId", s"$queryId-e$epochId", messages)

  override def abort(
      epochId: Long,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
    deleteRecursively(Paths.get(nsRoot, s"$stagingRel-e$epochId"))

  // ------------------------------------------------- shared publish

  private def publish(
      stageRel: String, commitId: String,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val staging = Paths.get(nsRoot, stageRel)
    val hot = Paths.get(nsRoot, "hot")
    val entries = messages.flatMap {
      case TsdbCommitMessage(es) => es
      case other => throw new IllegalStateException(s"foreign commit message: $other")
    }
    entries.foreach { e =>
      val dest = hot.resolve(e.destRel)
      Files.createDirectories(dest.getParent)
      Files.move(staging.resolve(e.srcRel), dest,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    // one "w" activity row per touched window — purge-scan's input
    val acts = entries.groupBy(e => (e.tag, e.pStart)).map { case ((tag, ps), es) =>
      (tag, ps, es.map(_.maxIngestTs).max)
    }
    if (acts.nonEmpty) {
      val sb = new StringBuilder
      // pmax = running activityTs max within this (write-once) file —
      // the change planner's backward-scan stop bound, so a cold plan
      // skips a whole historical commit file from its last line alone
      var pmax = Long.MinValue
      acts.foreach { case (tag, ps, actTs) =>
        if (actTs > pmax) pmax = actTs
        sb.append(graft.tsdb.ActivityLedger.encodeLine(
          graft.tsdb.ActivityLedger.Act(tag, ps, actTs, "w", pmax = Some(pmax))))
          .append('\n')
      }
      val actDir = Paths.get(nsRoot, "activity")
      Files.createDirectories(actDir)
      Files.write(actDir.resolve(s"act-dsv2-$commitId.jsonl"),
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    // advertise the mutation on the store's cross-process CHANGE STAMP,
    // like every store-instance write path does (bumpVersion): stamp
    // readers — foreign instances' tier caches, graft-store-tail's
    // listing gate — must see an external producer's connector commit,
    // not just store-API mutations
    try Files.write(Paths.get(nsRoot, "version"),
      s"dsv2-$commitId-${System.nanoTime()}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => () }
    deleteRecursively(staging)
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
}

final case class TsdbStreamingWriterFactory(
    nsRoot: String, stagingRel: String, width: Long, schema: StructType)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new TsdbDataWriter(nsRoot, s"$stagingRel-e$epochId", width, schema,
      partitionId, taskId)
}

final case class TsdbWriterFactory(
    nsRoot: String, stagingRel: String, width: Long, schema: StructType)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new TsdbDataWriter(nsRoot, stagingRel, width, schema, partitionId, taskId)
}

/** Task-side writer: streams rows into one open parquet file per
  * distinct (tag, window) this task sees, under an attempt-unique
  * staging subdirectory. For wide backfills, pre-`repartition` the input
  * by (tag, partition_start) so each task holds few open files — the
  * same guidance as Spark's own dynamic-partition write.
  */
final class TsdbDataWriter(
    nsRoot: String, stagingRel: String, width: Long, schema: StructType,
    partitionId: Int, taskId: Long)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {

  private val conf = new Configuration()
  private def idx(n: String): Int = schema.fieldIndex(n)
  private val (iTag, iPs, iTs, iVal, iIng, iWid, iSeq) =
    (idx("tag"), idx("partition_start"), idx("ts"), idx("value"),
      idx("ingestTs"), idx("writerId"), idx("seq"))

  private val taskDir =
    Paths.get(nsRoot, stagingRel, s"task-$partitionId-$taskId")
  private val open = scala.collection.mutable.HashMap
    .empty[(String, Long), (graft.tsdb.ParquetIO.PartStreamWriter, String, Array[Long])]

  override def write(row: InternalRow): Unit = {
    val tag = row.getUTF8String(iTag).toString
    val ts = row.getLong(iTs)
    val ps = ts - java.lang.Math.floorMod(ts, width)
    val claimed = row.getLong(iPs)
    require(claimed == ps,
      s"graft-tsdb write: partition_start $claimed does not match " +
        s"ts $ts under width $width (expected $ps)")
    val (w, _, meta) = open.getOrElseUpdate((tag, ps), {
      val destRel = "tag=" + ExternalCatalogUtils.escapePathName(tag) +
        s"/partition_start=$ps"
      val dir = taskDir.resolve(destRel)
      Files.createDirectories(dir)
      val fname = s"part-$partitionId-$taskId-${open.size}.parquet"
      (graft.tsdb.ParquetIO.openPartStream(dir.resolve(fname), conf),
        s"$destRel/$fname", Array(Long.MinValue))
    })
    w.write(ts, row.getUTF8String(iVal).toString, row.getLong(iIng),
      row.getUTF8String(iWid).toString, row.getLong(iSeq))
    if (row.getLong(iIng) > meta(0)) meta(0) = row.getLong(iIng)
  }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    val entries = open.map { case ((tag, ps), (w, destRel, meta)) =>
      w.close()
      TsdbStagedFile(
        srcRel = s"task-$partitionId-$taskId/$destRel",
        destRel = destRel, tag = tag, pStart = ps,
        maxIngestTs = meta(0), rows = w.rows)
    }.toArray
    open.clear()
    TsdbCommitMessage(entries)
  }

  override def abort(): Unit = {
    open.values.foreach { case (w, _, _) =>
      try w.close() catch { case _: Throwable => () }
    }
    open.clear()
    if (Files.exists(taskDir)) {
      val s = Files.walk(taskDir)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
  }

  override def close(): Unit = ()
}
