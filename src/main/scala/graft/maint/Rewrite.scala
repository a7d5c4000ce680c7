package graft.maint

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft._
import graft.cluster.{Hilbert, ZOrder}
import graft.lineage.{LineageLog, LineageRecord}
import graft.meta.{DataFile, Snapshot}

/** One FFD bin: input files to be rewritten into ~one output file. */
final case class Bin(partition: String, files: Seq[DataFile]) {
  def bytes: Long = files.iterator.map(_.bytes).sum
  def rows: Long = files.iterator.map(_.rows).sum
}

object Packer {
  /**
   * First-fit-decreasing bin packing of candidate files into target-size
   * bins (north rule: "bin-packing small-file compaction with a
   * first-fit-decreasing target-size packer"). FFD guarantees ≤ 11/9·OPT+1
   * bins; the property suite asserts the ≤ 2·OPT safe bound and that no bin
   * exceeds target (given every item < target).
   */
  def ffd(partition: String, files: Seq[DataFile], targetBytes: Long): Seq[Bin] = {
    val sorted = files.sortBy(f => (-f.bytes, f.path)) // decreasing, stable
    val bins = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.ArrayBuffer[DataFile]]
    val free = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (f <- sorted) {
      val i = free.indexWhere(_ >= f.bytes)
      if (i >= 0) { bins(i) += f; free(i) -= f.bytes }
      else {
        bins += scala.collection.mutable.ArrayBuffer(f)
        free += math.max(0L, targetBytes - f.bytes)
      }
    }
    bins.map(b => Bin(partition, b.toSeq)).toSeq
  }
}

/** Bounded concurrent execution of per-group maintenance units. Each
  * unit is one Spark job; submitting several keeps all executor slots busy
  * when individual groups are smaller than the cluster (Spark's scheduler
  * interleaves their stages). Order of results is preserved. Fail-fast
  * (ADVICE r2 #5): the first failing unit cancels the rest and its cause
  * is rethrown UNWRAPPED, so callers can match on exception type (e.g.
  * CommitConflictException). */
object Concurrency {
  def mapUnits[A, B](units: Seq[A], maxConcurrent: Int = 8)(f: A => B): Seq[B] = {
    if (units.size <= 1) return units.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(maxConcurrent, units.size))
    try {
      val futs = units.map(u => pool.submit(
        new java.util.concurrent.Callable[B] { def call(): B = f(u) }))
      try futs.map(_.get())
      catch {
        case e: java.util.concurrent.ExecutionException =>
          pool.shutdownNow() // cancel outstanding units on first failure
          throw Option(e.getCause).getOrElse(e)
      }
    } finally pool.shutdown()
  }
}

final case class RewriteConfig(
    targetFileBytes: Long = 128L * 1024 * 1024,
    /** zkey | hilbert | docid | none */
    sortBy: String = "docid",
    /** ~input bytes per Spark job (resume/checkpoint granularity). One job
      * per `jobGroupBytes` of input balances the two pressures: few jobs
      * (the local-mode serial floor is ~1 s of dispatch+planning per job —
      * BASELINE.md measurement discipline #3) against bounded loss on
      * crash-resume (a died job re-runs at most this many bytes). Default
      * 64 × targetFileBytes. */
    jobGroupBytes: Long = -1) {
  /** files smaller than this are compaction victims */
  def minBytes: Long = targetFileBytes * 3 / 4
  def groupBytes: Long = if (jobGroupBytes > 0) jobGroupBytes else targetFileBytes * 64
}

/**
 * The two data-rewriting maintenance passes. Both are resumable: work is
 * keyed by a deterministic pass id (operation + base snapshot version);
 * each job group stages files then logs `done`; the snapshot commit
 * happens once at the end from the union of done groups (SURVEY.md §7.4).
 *
 * Job-count doctrine (VERDICT r2 next-step 4 + BASELINE.md discipline #3):
 * round 2 ran one Spark job per table partition — 12 jobs for compact, 24
 * (sample+write) for cluster — and the ~1 s/job serial floor capped
 * scaling efficiency well under the 0.8 gate. Both passes now plan
 * DRIVER-SIDE into deterministic job GROUPS of ~`jobGroupBytes` input
 * each: the whole pass is a handful of jobs at bench scale but still
 * splits into bounded, resumable, concurrently-scheduled units when the
 * table is large relative to the group size (the 100-TB shape: thousands
 * of groups, each one job, streaming through the bounded pool).
 */
object Rewrite {

  /** Stable source dictionary: persisted order from the snapshot summary,
    * extended (sorted) with any new partition values — indices never move
    * across passes. */
  def sourceDict(snap: Snapshot, files: Seq[DataFile]): Seq[String] = {
    val prev = snap.summary.get("source-dict")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
    val seen = files.flatMap(_.partition.get("source")).distinct
    prev ++ (seen.toSet -- prev.toSet).toSeq.sorted
  }

  def sortColumn(sortBy: String, dict: Seq[String]): Option[org.apache.spark.sql.Column] =
    sortBy match {
      case "zkey" => Some(ZOrder.zkey(col("source"), col("n_tok"), col("doc_id"), dict))
      case "hilbert" => Some(Hilbert.hkey(col("source"), col("n_tok"), col("doc_id"), dict))
      case "docid" => Some(col("doc_id"))
      case _ => None
    }

  /** Deterministic pass id: operation + base snapshot version + a hash of
    * every LAYOUT-AFFECTING config knob (ADVICE r3 #2: group membership
    * depends on jobGroupBytes/targetFileBytes/sortBy, so a
    * crash-resume at the same snapshot with a DIFFERENT config must get a
    * fresh pass id — reusing a `done` record whose staged output covers a
    * different file set than the re-planned group would silently lose the
    * difference at commit). */
  def passId(op: String, version: Long, cfg: RewriteConfig): String = {
    val h = java.util.Arrays.hashCode(Array[Long](
      cfg.targetFileBytes, cfg.minBytes, cfg.groupBytes,
      cfg.sortBy.hashCode.toLong))
    f"$op-v$version-${h & 0xffffff}%06x"
  }

  /** Greedy grouping of work items into job groups of ~groupBytes input.
    * Items must arrive in a deterministic order — group membership (hence
    * lineage unit keys) is a pure function of the item sequence. */
  private def groupBy[A](items: Seq[A], groupBytes: Long)(bytes: A => Long): Seq[Seq[A]] = {
    val groups = scala.collection.mutable.ArrayBuffer.empty[Seq[A]]
    val cur = scala.collection.mutable.ArrayBuffer.empty[A]
    var acc = 0L
    for (it <- items) {
      if (cur.nonEmpty && acc + bytes(it) > groupBytes) {
        groups += cur.toSeq; cur.clear(); acc = 0L
      }
      cur += it; acc += bytes(it)
    }
    if (cur.nonEmpty) groups += cur.toSeq
    groups.toSeq
  }

  /**
   * Bin-packing compaction. Victims = files under cfg.minBytes, packed FFD
   * per partition; bins are grouped into ~`cfg.groupBytes` Spark jobs; in
   * each job every bin is shuffled by its index to exactly one output task
   * (`FileBin` + `repartitionById`) and locally sorted by cfg.sortBy.
   * Unaffected files and manifests are carried through untouched.
   */
  def compact(table: TokenTable, spark: SparkSession,
      cfg: RewriteConfig = RewriteConfig(), nowMs: Long = 0L): Snapshot = {
    val snap = table.log.current().getOrElse(sys.error("empty table"))
    val files = table.log.dataFiles(snap)
    val dict = sourceDict(snap, files)
    val pid = passId("compact", snap.version, cfg)
    val lin = new LineageLog(table.root)

    val byPartition = files.groupBy(_.partition.getOrElse("source", ""))
    // victims: small files; a partition needs ≥2 victims to gain anything
    val allBins: Seq[Bin] = byPartition.toSeq.sortBy(_._1).flatMap { case (p, fs) =>
      val victims = fs.filter(_.bytes < cfg.minBytes)
      if (victims.size < 2) Seq.empty
      else Packer.ffd(p, victims, cfg.targetFileBytes)
        .filter(_.files.size >= 2) // singleton bin = pointless rewrite
    }
    if (allBins.isEmpty) return snap // nothing to do — no empty commits

    val groups = groupBy(allBins, cfg.groupBytes)(_.bytes).zipWithIndex
    val done = lin.completed(pid)
    // each group thunk also footer-stats its staged files: the manifest
    // work overlaps other groups' Spark jobs instead of running serially
    // inside the commit
    val staged = Concurrency.mapUnits(groups) { case (bins, gi) =>
      val key = s"g$gi"
      done.get(key) match {
        case Some(rec) =>
          val out = table.log.absolute(rec.filesOut.head)
          (bins, table.collectEntries(out))
        case None =>
          lin.heartbeat(pid)
          val out = rewriteBins(table, spark, bins, cfg.sortBy, dict,
            table.schemaOf(snap))
          val entries = table.collectEntries(out)
          lin.append(LineageRecord(pid, "compact", key, "done",
            bins.iterator.map(_.files.size).sum,
            Seq(table.log.relativize(out)),
            bins.iterator.map(_.rows).sum, bins.iterator.map(_.bytes).sum, 1))
          (bins, entries)
      }
    }

    val removed = staged.flatMap(_._1).flatMap(_.files).map(_.path).toSet
    table.commitRewriteEntries(removed, staged.flatMap(_._2), nowMs, "compact",
      Map("source-dict" -> dict.mkString(","),
        "bins" -> allBins.size.toString,
        "pass-id" -> pid))
  }

  /** Rewrite one job group's bins (possibly spanning table partitions —
    * partitionBy(p_source) routes rows back to their hive dirs): ONE Spark
    * job; each bin → exactly one output task → one file per source in the
    * bin (bins are partition-pure, so exactly one). */
  private def rewriteBins(table: TokenTable, spark: SparkSession,
      bins: Seq[Bin], sortBy: String, dict: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Path = {
    // file basename -> index of its bin: O(1) hash lookup in a codegen'd
    // expression (graft.functions.FileBin) — constant per-row cost at any
    // victim-file count (VERDICT r2 "What's wrong" #3 replaced a per-row
    // LINEAR scan of a 2·B-entry map literal)
    val pairs = bins.zipWithIndex.flatMap { case (b, i) =>
      b.files.map(f => f.path -> i)
    }
    val paths = bins.flatMap(_.files).map(f => table.log.absolute(f.path).toString)
    val out = table.log.newDataSubdir()
    // read under the snapshot schema: rewrites must CARRY evolved columns
    // (reading the fixed base schema here would silently drop them)
    val base = spark.read.schema(schema).parquet(paths: _*)
      .withColumn("__bk", graft.functions.FileBin.bin(input_file_name(), pairs))
      .repartitionById(bins.size, col("__bk"))
    val sorted = sortColumn(sortBy, dict) match {
      case Some(c) => base.withColumn("__sk", c)
        .sortWithinPartitions(col("__sk")).drop("__sk")
      case None => base
    }
    TokenTable.writeData(sorted.drop("__bk"), out)
    out
  }

  /**
   * Clustering rewrite: range-partition each table partition by the
   * Z-order (or Hilbert) key and rewrite into ~targetFileBytes files.
   *
   * Two jobs at bench scale (was 2 × nPartitions in round 2):
   *  1. ONE deterministic narrow sample job over every partition at once —
   *     reads only (source, key columns); parquet column pruning never
   *     decodes the token arrays; rows are picked by a hash of doc_id so
   *     the sample (hence boundaries, hence file layout) is identical at
   *     every parallelism level;
   *  2. write jobs in ~groupBytes groups of whole partitions: per-source
   *     range bin ids (`RangeBin.bySource`) place every row in exactly one
   *     output task through `repartitionById`.
   */
  def cluster(table: TokenTable, spark: SparkSession,
      cfg: RewriteConfig = RewriteConfig(sortBy = "zkey"), nowMs: Long = 0L): Snapshot = {
    val snap = table.log.current().getOrElse(sys.error("empty table"))
    val files = table.log.dataFiles(snap)
    val dict = sourceDict(snap, files)
    val op = if (cfg.sortBy == "hilbert") "hilbert" else "zorder"
    val pid = passId(op, snap.version, cfg)
    val lin = new LineageLog(table.root)

    val byPartition = files.groupBy(_.partition.getOrElse("source", ""))
      .toSeq.sortBy(_._1).filter(_._2.nonEmpty)
    if (byPartition.isEmpty) return snap
    val done = lin.completed(pid)

    val key = sortColumn(cfg.sortBy, dict).getOrElse(col("doc_id"))
    val binSrc: Column = cfg.sortBy match {
      case "zkey" | "hilbert" => key
      case _ => graft.functions.PrefixCode.code(col("doc_id"), 7)
    }

    // --- job 1: one stratified deterministic sample over ALL partitions.
    // Per-source modulus targets ~200 samples per output file; the filter
    // is a pure function of (doc_id, per-source row counts) so boundaries
    // never depend on the core count.
    val perSource: Seq[(String, Seq[DataFile], Int, Long)] =
      byPartition.map { case (p, fs) =>
        val bytes = fs.map(_.bytes).sum
        val nOut = math.max(1, math.ceil(bytes.toDouble / cfg.targetFileBytes).toInt)
        val totalRows = math.max(1L, fs.map(_.rows).sum)
        val mod = math.max(1L, totalRows / math.min(100000L, 200L * nOut))
        (p, fs, nOut, mod)
      }
    val groups = groupBy(perSource, cfg.groupBytes)(_._2.map(_.bytes).sum)
    val needSample = groups // sources in not-yet-done groups that range-split
      .filter(grp => !done.contains(s"g-of-${grp.head._1}"))
      .flatten.filter(_._3 > 1)
    val boundsBySource: Map[String, Array[Long]] =
      if (needSample.isEmpty) Map.empty
      else {
        // sample a deterministic 1-in-4 file subset per source (sorted
        // paths, every 4th): boundary quantiles are statistics, not exact
        // values, and the clustering key's distribution inside any file
        // subset matches the global one up to the subset's key slice —
        // sampling every file made the sample job ~2 s of the 8-core
        // stage's serial share. Per-source mod shrinks 4x to keep the
        // sample COUNT (hence boundary precision) unchanged.
        // subset order keyed on DATA (doc_id min stat, bytes, rows) — not
        // on paths, whose staging-dir UUIDs differ between runs/levels
        val sampleFiles = needSample.map { case (p, fs, nOut, mod) =>
          val pick = fs.sortBy(f => (f.stats.get("doc_id")
              .flatMap(s => Option(s.min)).getOrElse(""), f.bytes, f.rows))
            .zipWithIndex
            .collect { case (f, i) if i % 4 == 0 => f }
          (p, pick, nOut, math.max(1L, mod / 4))
        }
        val allPaths = sampleFiles.flatMap(_._2)
          .map(f => table.log.absolute(f.path).toString)
        val modOf = sampleFiles.foldLeft(lit(Long.MaxValue): Column) {
          case (acc, (p, _, _, mod)) => when(col("source") === p, lit(mod)).otherwise(acc)
        }
        val sampled = spark.read.schema(TokenRow.schema).parquet(allPaths: _*)
          .filter(pmod(xxhash64(col("doc_id"), lit(7777L)), modOf) === 0)
          .select(col("source"), binSrc.cast("long").as("sk"))
          .collect()
        val bySrc = sampled.groupBy(_.getString(0))
        needSample.map { case (p, _, nOut, _) =>
          val sample = bySrc.getOrElse(p, Array.empty).map(_.getLong(1))
          p -> graft.functions.Boundaries.fromSample(sample, nOut)
        }.toMap
      }

    // --- job 2..k: grouped whole-partition rewrites (each thunk also
    // footer-stats its staged output — commit overlap, as in compact)
    val staged = Concurrency.mapUnits(groups) { grp =>
      val gKey = s"g-of-${grp.head._1}"
      done.get(gKey) match {
        case Some(rec) =>
          (grp.flatMap(_._2),
            table.collectEntries(table.log.absolute(rec.filesOut.head)))
        case None =>
          val paths = grp.flatMap(_._2).map(f => table.log.absolute(f.path).toString)
          // The bin input REFERENCES the precomputed __sk column — inlining
          // the zkey expression into all 12 when-branches blows Janino's
          // 64 KB method limit and drops the stage out of codegen.
          val binRef: Column = cfg.sortBy match {
            case "zkey" | "hilbert" => col("__sk")
            case _ => graft.functions.PrefixCode.code(col("doc_id"), 7)
          }
          val (binCol, nBins) = graft.functions.RangeBin.bySource(
            col("source"), binRef, grp.map { case (p, _, _, _) =>
              p -> boundsBySource.getOrElse(p, Array.empty[Long]) })
          val out = table.log.newDataSubdir()
          lin.heartbeat(pid)
          // no within-file sort: file-level min/max stats — what the
          // manifest-pruned scan reads — are fixed by the RangeBin
          // assignment alone, and a sort inside a bin pays off only for
          // row-group pruning inside multi-row-group files, which no
          // workload measures
          val binned = spark.read.schema(table.schemaOf(snap)).parquet(paths: _*)
            .withColumn("__sk", key)
            .withColumn("__bk", binCol)
            .repartitionById(nBins, col("__bk"))
          TokenTable.writeData(binned.drop("__sk", "__bk"), out)
          val entries = table.collectEntries(out)
          lin.append(LineageRecord(pid, op, gKey, "done",
            grp.map(_._2.size).sum, Seq(table.log.relativize(out)),
            grp.flatMap(_._2).map(_.rows).sum,
            grp.flatMap(_._2).map(_.bytes).sum, 1))
          (grp.flatMap(_._2), entries)
      }
    }

    val removed = staged.flatMap(_._1).map(_.path).toSet
    table.commitRewriteEntries(removed, staged.flatMap(_._2), nowMs, op,
      Map("source-dict" -> dict.mkString(","), "pass-id" -> pid))
  }
}
