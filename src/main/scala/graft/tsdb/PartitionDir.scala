package graft.tsdb

import java.nio.file.{InvalidPathException, Path, Paths}

import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

/** The hot and cold tiers' directory layout, `tag=<escaped tag>/partition_start=<n>`
  * under the tier root: the Hive layout Spark's `partitionBy("tag",
  * "partition_start")` writes and its partition discovery reads. Every
  * store path to a partition is built by [[apply]] (or [[tagDir]]) and read
  * back by [[keyOf]], with Spark's `escapePathName`/`unescapePathName` as
  * the codec, so the driver and Spark name a tag with special characters
  * (space → %20, ':' → %3A) alike. Non-ASCII characters stay raw (Spark
  * reads `%XX` back as one char ≤ 0xFF), so a JVM whose file-name encoding
  * cannot hold them cannot name the directory: see [[requireEncodable]].
  */
private[graft] object PartitionDir {

  private val StartPrefix = "partition_start="

  /** A tag's directory name, `tag=<escaped tag>`. */
  private[tsdb] def tagDir(tag: String): String = "tag=" + ExternalCatalogUtils.escapePathName(tag)

  /** A partition's directory, `tag=<escaped tag>/partition_start=<n>`,
    * relative to its tier root.
    */
  def apply(tag: String, partitionStart: Long): String =
    s"${tagDir(tag)}/$StartPrefix$partitionStart"

  /** The partition start a `partition_start=<n>` directory name encodes. */
  private[tsdb] def startOf(name: String): Option[Long] =
    if (!name.startsWith(StartPrefix)) None
    else try Some(name.substring(StartPrefix.length).toLong)
    catch { case _: NumberFormatException => None }

  /** The `(tag, partitionStart)` the last two segments of `dir` encode
    * (None for any other directory, e.g. a tier root or `l0/`).
    */
  def keyOf(dir: Path): Option[(String, Long)] =
    if (dir == null || dir.getNameCount < 2) None
    else {
      val tagSeg = dir.getName(dir.getNameCount - 2).toString
      if (!tagSeg.startsWith("tag=")) None
      else startOf(dir.getFileName.toString)
        .map(ps => (ExternalCatalogUtils.unescapePathName(tagSeg.stripPrefix("tag=")), ps))
    }

  /** Throws [[IllegalArgumentException]] when this JVM cannot name the
    * tag's directory (the store would take its rows into `l0/`, then fail
    * every flush).
    */
  private[tsdb] def requireEncodable(tag: String): Unit =
    // an ASCII tag escapes to printable ASCII, which every encoding holds
    if (!tag.forall(_ < 0x80)) try { Paths.get(tagDir(tag)); () }
    catch {
      case e: InvalidPathException =>
        throw new IllegalArgumentException(
          s"""Key "$tag" cannot name a directory under this JVM's file-name encoding """ +
            s"(sun.jnu.encoding = ${System.getProperty("sun.jnu.encoding")}): ${e.getReason}")
    }
}
