package graft.meta

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule}

import graft.ColStats

/**
 * The engine's own table format: snapshots + manifest lists + manifests over
 * plain Parquet, rebuilt from scratch (no Delta/Iceberg jars in this
 * environment).
 *
 * The reference delegates all of this to Delta's `_delta_log` (wired at
 * /root/reference/spark/conf/spark-defaults.conf:20-21 and relied on at
 * /root/reference/spark/jobs/check_table.py:19-20). We reproduce the
 * semantics it depends on:
 *   - snapshot-isolated commits (append-only numbered versions, atomic
 *     put-if-absent publication);
 *   - latest-snapshot reads (the reference's max(ingestion_ts) pattern at
 *     /root/reference/spark/lib/utils.py:58-71 becomes "resolve current
 *     version pointer");
 *   - partition-scoped replace (dynamic partitionOverwriteMode at
 *     /root/reference/spark/jobs/silver/meetings.py:19,68-73 becomes an
 *     Overwrite commit that swaps file sets per partition).
 *
 * Layout under a table root:
 * {{{
 *   root/
 *     data/<commit-uuid>/source=<v>/part-*.parquet   data files
 *     meta/v00000001.json ...                        snapshot files
 *     meta/manifests/m-<uuid>.json                   manifest files
 *     meta/lineage/<pass_id>.jsonl                   per-pass lineage log
 * }}}
 *
 * Scale note: a snapshot holds a *manifest list* (paths), not the file list
 * itself; appends add one manifest and reuse the parent's untouched manifest
 * files, so commit cost is O(changed files), not O(table files). Manifest
 * rewrite (compaction of the metadata itself) is a first-class maintenance op.
 */
object Json {
  val mapper: JsonMapper with ClassTagExtensions =
    JsonMapper.builder().addModule(DefaultScalaModule).build() :: ClassTagExtensions
  def write(o: Any): String = mapper.writeValueAsString(o)
  def read[T: Manifest](s: String)(implicit ct: scala.reflect.ClassTag[T]): T =
    mapper.readValue(s, ct.runtimeClass).asInstanceOf[T]
}

/** One data file. `path` is root-relative for relocatability.
  * `partition` is the identity-partition tuple (e.g. Map("source"->"web")). */
final case class DataFile(
    path: String,
    partition: Map[String, String],
    rows: Long,
    bytes: Long,
    stats: Map[String, ColStats])

/** A manifest: an immutable list of data files sharing a commit. */
final case class ManifestFile(entries: Seq[DataFile]) {
  def rows: Long = entries.iterator.map(_.rows).sum
  def bytes: Long = entries.iterator.map(_.bytes).sum
}

/** Pointer to a manifest, with rollup stats so planners can work
  * manifest-granular before opening anything. `stats` is the per-column
  * min/max/null rollup over the manifest's files (Iceberg's manifest-list
  * partition summaries): at 10^6 manifests a scan must be able to skip a
  * manifest WITHOUT opening it — planner cost O(matching manifests), not
  * O(commits). None = written before rollups existed → conservative keep. */
final case class ManifestRef(
    path: String,
    fileCount: Int,
    rows: Long,
    bytes: Long,
    stats: Option[Map[String, ColStats]] = None)

object ManifestRef {
  /**
   * Conservative per-column rollup across a manifest's files. A column is
   * present in the rollup only when EVERY file carries stats for it
   * (a file missing the column makes its range unknown — omitting the
   * column keeps `mightMatch` trivially true). Null min/max in any file
   * propagates null (range unknown, counts still summed): every
   * `Predicate.mightMatch` case treats null bounds as "might match", and
   * the two count-based prunes stay exact — Ne skips only when
   * min==max==v with ZERO nulls summed across all files, IsNotNull skips
   * only when the summed nullCount reaches the summed valueCount (all
   * values in the whole manifest null).
   */
  def rollup(entries: Seq[DataFile]): Map[String, ColStats] = {
    if (entries.isEmpty) return Map.empty
    val cols = entries.map(_.stats.keySet).reduce(_ intersect _)
    cols.iterator.map { c =>
      val ss = entries.map(_.stats(c))
      val tpe = ss.head.tpe
      val anyNullBound = ss.exists(s => s.min == null || s.max == null)
      val (mn, mx) =
        if (anyNullBound) (null: String, null: String)
        else (ss.map(_.min).reduce((a, b) =>
                if (graft.Predicate.cmp(tpe, a, b) <= 0) a else b),
              ss.map(_.max).reduce((a, b) =>
                if (graft.Predicate.cmp(tpe, a, b) >= 0) a else b))
      c -> ColStats(tpe, mn, mx,
        ss.iterator.map(_.nullCount).sum, ss.iterator.map(_.valueCount).sum)
    }.toMap
  }
}

/** Thrown when a rewrite commit loses an optimistic race to a concurrent
  * pass that already removed (and rewrote) one of its input files. The
  * loser must NOT blindly re-apply: its staged output duplicates rows the
  * winner already rewrote. Callers re-plan against the new snapshot. */
final class CommitConflictException(msg: String) extends RuntimeException(msg)

final case class Snapshot(
    version: Long,
    parentVersion: Long, // -1 for the first
    timestampMs: Long,
    operation: String, // create|append|compact|zorder|merge|expire|rewrite_manifests
    summary: Map[String, String],
    schemaDDL: String,
    partitionCols: Seq[String],
    manifestList: Seq[ManifestRef])

/**
 * Snapshot log over a table root. All methods are metadata-sized: nothing
 * here touches row data.
 */
final class SnapshotLog(val root: String) {
  private val metaDir: Path = Paths.get(root, "meta")
  private val manifestDir: Path = metaDir.resolve("manifests")

  def dataDir: Path = Paths.get(root, "data")

  private def snapshotPath(v: Long): Path = metaDir.resolve(f"v$v%08d.json")

  def init(): Unit = {
    Files.createDirectories(manifestDir)
    Files.createDirectories(dataDir)
    Files.createDirectories(metaDir.resolve("lineage"))
  }

  /** All committed versions, ascending. Source of truth is the directory
    * listing (a version exists iff its file was atomically published). */
  def versions(): Seq[Long] =
    SnapshotLog.listNames(metaDir)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json").toLong }
      .sorted

  def currentVersion(): Option[Long] = versions().lastOption

  def snapshot(v: Long): Snapshot =
    Json.read[Snapshot](Files.readString(snapshotPath(v)))

  def current(): Option[Snapshot] = currentVersion().map(snapshot)

  def readManifest(ref: ManifestRef): ManifestFile =
    Json.read[ManifestFile](Files.readString(Paths.get(root).resolve(ref.path)))

  /** All data files reachable from a snapshot. Metadata-sized. */
  def dataFiles(s: Snapshot): Seq[DataFile] =
    s.manifestList.flatMap(m => readManifest(m).entries)

  /** Persist a new manifest file; returns its ref (with the per-column
    * min/max rollup planners prune on before opening the manifest). */
  def writeManifest(entries: Seq[DataFile]): ManifestRef = {
    val name = s"meta/manifests/m-${java.util.UUID.randomUUID().toString}.json"
    val p = Paths.get(root).resolve(name)
    Files.writeString(p, Json.write(ManifestFile(entries)),
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    ManifestRef(name, entries.size,
      entries.iterator.map(_.rows).sum, entries.iterator.map(_.bytes).sum,
      Some(ManifestRef.rollup(entries)))
  }

  /**
   * Atomic put-if-absent commit with optimistic-concurrency retry.
   *
   * `attempt` receives the current snapshot (None for v0) and builds the
   * next one's content; publication is a hard-link creation, which POSIX
   * guarantees atomic and exclusive (EEXIST on a lost race) — the same
   * role Delta's transaction-log append plays in the reference. On a lost
   * race we re-read the new current snapshot and retry `attempt`.
   */
  def commit(maxRetries: Int = 10)(attempt: Option[Snapshot] => Snapshot): Snapshot = {
    var tries = 0
    while (true) {
      tries += 1
      val base = current()
      val next0 = attempt(base)
      val nextV = base.map(_.version + 1).getOrElse(0L)
      val next = next0.copy(version = nextV,
        parentVersion = base.map(_.version).getOrElse(-1L))
      val tmp = metaDir.resolve(s".tmp-${java.util.UUID.randomUUID().toString}.json")
      Files.writeString(tmp, Json.write(next),
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      try {
        Files.createLink(snapshotPath(next.version), tmp) // atomic, fails if exists
        Files.deleteIfExists(tmp)
        return next
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp)
          if (tries > maxRetries)
            throw new IllegalStateException(
              s"commit lost $maxRetries optimistic races on $root")
        case NonFatal(e) =>
          Files.deleteIfExists(tmp)
          throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Fresh, collision-free path for a commit's data files. NOT created —
    * Spark's parquet writer insists on creating the leaf dir itself. */
  def newDataSubdir(): Path = {
    Files.createDirectories(dataDir)
    dataDir.resolve(java.util.UUID.randomUUID().toString)
  }

  def relativize(p: Path): String = Paths.get(root).relativize(p).toString

  def absolute(rel: String): Path = Paths.get(root).resolve(rel)
}

object SnapshotLog {
  /** Closed directory listing (Files.list leaks an fd if the stream is not
    * closed; versions() runs on every commit attempt and scan). */
  def listNames(dir: Path): Seq[String] = {
    if (!Files.isDirectory(dir)) return Seq.empty
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq
    finally s.close()
  }

  /** Closed recursive walk. */
  def walk(dir: Path): Seq[Path] = {
    if (!Files.exists(dir)) return Seq.empty
    val s = Files.walk(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Closed non-recursive listing of paths. */
  def list(dir: Path): Seq[Path] = {
    if (!Files.isDirectory(dir)) return Seq.empty
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }
}
