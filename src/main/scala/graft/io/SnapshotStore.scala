package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Iceberg-style snapshot layer over Parquet directories.
  *
  * No Iceberg runtime jar ships offline (SURVEY.md §7.0), so this implements
  * the minimal Iceberg semantics the north rule needs — atomic snapshot
  * commits, snapshot listing, read-latest — behind a small API. Layout:
  *
  * {{{
  * <table dir>/
  *   data/v<N>/part-*.parquet     one immutable data dir per snapshot
  *   _snapshots/v<N>.json         manifest; committed by atomic rename
  * }}}
  *
  * A snapshot is visible iff its manifest exists; manifests are written to a
  * temp file and renamed (atomic on POSIX), so a killed writer never leaves a
  * half-visible snapshot — this is the property checkpoint/resume relies on.
  * On an object store this layer would bind to real Iceberg; the API is the
  * contract, not the file layout.
  */
object SnapshotStore {

  final case class Snapshot(version: Long, dataPath: String, meta: Map[String, String])

  private def snapDir(dir: String): Path = Paths.get(dir, "_snapshots")

  /** Write `df` as the next snapshot of the table at `dir`. Returns the
    * committed snapshot. `meta` is carried verbatim in the manifest (the
    * per-iteration convergence metrics / lineage live here). It is
    * evaluated after the data write and before the manifest rename, so it
    * may hold figures the write itself produces (the superstep loop's
    * active count, observed on this write); a kill at any point before the
    * rename leaves the previous snapshot as the latest. */
  def commit(df: DataFrame, dir: String, meta: => Map[String, String] = Map.empty): Snapshot = {
    val version  = latest(dir).map(_.version + 1).getOrElse(0L)
    val dataPath = Paths.get(dir, "data", s"v$version").toString
    df.write.mode("overwrite").parquet(dataPath)
    Files.createDirectories(snapDir(dir))
    // Per-partition file lineage (Iceberg-manifest style): every data file
    // this snapshot owns, with its byte size, recorded alongside the
    // caller's metrics — enough to audit partition balance per iteration
    // and to resume/validate without listing the directory.
    val listing = Files.list(Paths.get(dataPath))
    val partFiles =
      try listing.iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .map(p => s"${p.getFileName}:${Files.size(p)}")
        .toSeq.sorted
      finally listing.close() // Files.list holds a directory FD until closed
    val lineage = Map(
      "numFiles"   -> partFiles.size.toString,
      "totalBytes" -> partFiles.map(_.split(':').last.toLong).sum.toString,
      "files"      -> partFiles.mkString(";"))
    val snap = Snapshot(version, dataPath, lineage ++ meta)
    val tmp  = snapDir(dir).resolve(s".v$version.json.tmp")
    Files.writeString(tmp, renderManifest(snap))
    Files.move(tmp, snapDir(dir).resolve(s"v$version.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    snap
  }

  /** All committed snapshots, ascending by version. */
  def snapshots(dir: String): Seq[Snapshot] = {
    val d = snapDir(dir)
    if (!Files.isDirectory(d)) return Seq.empty
    val listing = Files.list(d)
    try listing.iterator().asScala
      .filter(p => p.getFileName.toString.matches("v\\d+\\.json"))
      .map(p => parseManifest(Files.readString(p)))
      .toSeq.sortBy(_.version)
    finally listing.close()
  }

  def latest(dir: String): Option[Snapshot] = snapshots(dir).lastOption

  /** Read the latest snapshot's data. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(latest(dir)
      .getOrElse(throw new IllegalStateException(s"No snapshot in $dir")).dataPath)

  /** Iceberg-style snapshot expiration (`expire_snapshots`): delete all but
    * the newest `keepLast` snapshots — manifest first is WRONG; data first
    * is wrong too if a reader holds the manifest. Order used: delete the
    * MANIFEST (atomic visibility removal), then the now-orphaned data dir —
    * a concurrent reader that already resolved the dataPath may race the
    * file delete, which is the same contract as Iceberg's expire. The
    * latest snapshot is never deleted (`keepLast >= 1`). A long
    * checkpointed run calls this per commit cadence so disk stays
    * O(keepLast), not O(iterations). Returns the expired versions. */
  def expire(dir: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1: $keepLast")
    val drop = snapshots(dir).dropRight(keepLast)
    drop.map { s =>
      Files.deleteIfExists(snapDir(dir).resolve(s"v${s.version}.json"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s.dataPath))
      s.version
    }
  }

  def readVersion(spark: SparkSession, dir: String, version: Long): DataFrame = {
    val s = snapshots(dir).find(_.version == version)
      .getOrElse(throw new IllegalStateException(s"No snapshot v$version in $dir"))
    spark.read.parquet(s.dataPath)
  }

  // --- minimal flat JSON (we control both writer and reader) ---

  private def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def renderManifest(s: Snapshot): String = {
    val metaJson = s.meta.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString("{", ",", "}")
    s"""{"version":${s.version},"dataPath":"${esc(s.dataPath)}","meta":$metaJson}"""
  }

  private val FieldRe = """"((?:[^"\\]|\\.)*)"\s*:\s*(?:"((?:[^"\\]|\\.)*)"|(\d+))""".r

  private def unesc(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"'  => sb += '"';  i += 2
          case '\\' => sb += '\\'; i += 2
          case 'n'  => sb += '\n'; i += 2
          case 'r'  => sb += '\r'; i += 2
          case 't'  => sb += '\t'; i += 2
          case 'u'  => sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case o    => sb += o; i += 2
        }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  private def parseManifest(json: String): Snapshot = {
    var version = -1L; var dataPath = ""; val meta = scala.collection.mutable.Map.empty[String, String]
    for (m <- FieldRe.findAllMatchIn(json)) {
      val key = unesc(m.group(1))
      val sv  = Option(m.group(2)).map(unesc)
      val nv  = Option(m.group(3))
      key match {
        case "version"  => version = nv.map(_.toLong).getOrElse(version)
        case "dataPath" => dataPath = sv.getOrElse(dataPath)
        case k          => sv.foreach(v => meta(k) = v)
      }
    }
    Snapshot(version, dataPath, meta.toMap)
  }
}
