package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Predicate, ScanMetrics, TokenTable}
import graft.maint.{Expire, Merge, Rewrite, RewriteConfig}
import graft.meta.Snapshot
import graft.sources.GraftSql

/** One timed engine call: wall and process CPU seconds, and the
  * sequences it took as input. */
final case class Sample(kind: String, seconds: Double, cpuSeconds: Double, seqs: Long,
    traced: Boolean)

/** What every workload shares: the session, the tracer, and the operation
  * log with its failure count. `measuring` is on for every step of the
  * measured loop, `counting` only for the steps whose samples make the
  * figures. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path,
    val seed: Long, val smoke: Boolean) {
  val samples = mutable.ArrayBuffer.empty[Sample]
  var attempted = 0L
  var failed = 0L
  var measuring = false
  var counting = false

  /** Time one operation; an exception counts as a failed operation. */
  def op[A](kind: String, seqs: => Long = 0L)(f: => A): Option[A] = {
    attempted += 1
    val c0 = Ctx.processCpuNs()
    val t0 = System.nanoTime()
    try {
      val (a, traced) = tracer.op(kind, counting)(f)
      if (counting)
        samples += Sample(kind, (System.nanoTime() - t0) / 1e9,
          (Ctx.processCpuNs() - c0) / 1e9, seqs, traced)
      Some(a)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"perfbench: $kind failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** An output check, run outside every timer. A mismatch or an exception
    * counts as a failed operation. */
  def check(what: String)(ok: => Boolean): Unit = {
    val good = try ok catch {
      case NonFatal(e) => System.err.println(s"perfbench: check $what threw: $e"); false
    }
    if (!good) {
      failed += 1
      System.err.println(s"perfbench: check failed: $what")
    }
  }

  def dir(name: String): Path = work.resolve(name)
}

object Ctx {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of every thread of this JVM: Spark tasks, driver, JIT, GC. */
  def processCpuNs(): Long = os.getProcessCpuTime
}

/** Bytes under a table root: total, and written so far (files seen before
  * are not counted again, so each written file counts once). */
final class DiskLedger(root: Path) {
  private val seen = mutable.HashSet.empty[String]
  var written = 0L

  def total: Long = files.map(_._2).sum

  /** Add the bytes of files that appeared since the last call. */
  def update(): Unit = files.foreach { case (p, n) =>
    if (seen.add(p)) written += n
  }

  private def files: Seq[(String, Long)] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => (p.toString, Files.size(p))).toSeq
      finally s.close()
    }
}

/** A closed-loop, single-client workload. Operation kinds named in
  * `writeThroughput` make the write throughput, those in `writeLatency`
  * the per-operation write figures; every workload also runs the reads of
  * `Reads`, which make the scan metrics. */
trait Workload {
  /** Generates the inputs and expected outputs; not part of set-up. */
  def prepare(): Unit
  /** Builds the workload's state from scratch; run several times, the
    * last state is kept. */
  def setup(rep: Int): Unit
  /** One closed-loop step (one or more operations). */
  def step(): Unit
  /** The counted steps: every figure comes from the first `minSteps`
    * steps, whatever the time. */
  def minSteps: Int
  def writeThroughput: Set[String]
  def writeLatency: Set[String]
  /** End-of-run output checks (outside timers) and the detail figures:
    * write_amp, space_amp and the workload's own named figures. */
  def finish(): Map[String, Double]
  /** The table the run ended on, for the meta-layer figures. */
  def table: TokenTable
}

object Workload {
  def rewriteCfg(sortBy: String): RewriteConfig =
    RewriteConfig(targetFileBytes = TargetFileBytes, sortBy = sortBy)

  /** Output file target for compact, cluster and merge: small enough that
    * the benchmark's tables span tens of files, so bin-packing and
    * pruning have something to decide. */
  val TargetFileBytes: Long = 1L * 1024 * 1024

  def summaryD(s: Snapshot, k: String): Double =
    s.summary.get(k).map(_.toDouble).getOrElse(0.0)

  def addedMb(s: Snapshot): Double = summaryD(s, "added-bytes") / Tracer.MiB

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return Double.NaN
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** A selective read: the same filter as a `Predicate`, as SQL, and as a
  * driver-side test for computing the expected result. */
sealed trait Sel {
  def sql: String
  def pred: Predicate
  def hit(docId: String, nTok: Int, source: String): Boolean
}

object Sel {
  final case class SrcTok(src: String, lo: Int, hi: Int) extends Sel {
    def sql = s"source = '$src' AND n_tok BETWEEN $lo AND $hi"
    def pred = Predicate.And(Predicate.Eq("source", src), Predicate.Between("n_tok", lo, hi))
    def hit(d: String, n: Int, s: String) = s == src && n >= lo && n <= hi
  }
  final case class TokRange(lo: Int, hi: Int) extends Sel {
    def sql = s"n_tok BETWEEN $lo AND $hi"
    def pred = Predicate.Between("n_tok", lo, hi)
    def hit(d: String, n: Int, s: String) = n >= lo && n <= hi
  }
  final case class IdPrefix(p: String) extends Sel {
    // doc_ids start with hex digits; '~' sorts after every one of them
    def sql = s"doc_id BETWEEN '$p' AND '$p~'"
    def pred = Predicate.Between("doc_id", p, p + "~")
    def hit(d: String, n: Int, s: String) = d.startsWith(p)
  }

  /** 48 seeded filters: the three shapes in turn, sources in turn, bounds
    * and prefixes from the seed. */
  def seeded(seed: Long): IndexedSeq[Sel] = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x5E1EC7L)
    (0 until 48).map { i =>
      val lo = Gen.MinTok + rnd.nextInt(400)
      i % 3 match {
        case 0 => SrcTok(Gen.Sources(i / 3 % Gen.Sources.length), lo, lo + 100)
        case 1 => TokRange(lo, lo + 8)
        case _ => IdPrefix(f"${rnd.nextInt(256)}%02x")
      }
    }
  }
}

/**
 * The training reader both workloads run against their table: full scans
 * that decode every token array, seeded selective scans alternating
 * between `TokenTable.scan` and SQL on a `GraftSql` view, and incremental
 * `scanAdded` reads. Each result is checked against the expected value
 * the workload computes from its generator output or model.
 */
final class Reads(ctx: Ctx, view: String) {
  import ctx.spark
  private val sels = Sel.seeded(ctx.seed)
  private var next = 0
  /** Off for a warm-up on inputs whose expected values are not computed. */
  var checking = true

  /** (rows, n_tok sum, sum of size(tokens), sum of xxhash64(tokens)). */
  type Full = (Long, Long, Long, BigDecimal)

  private def fullAgg(df: DataFrame): Full = {
    val r = df.agg(count(lit(1)), sum(col("n_tok").cast("long")),
      sum(size(col("tokens")).cast("long")),
      sum(xxhash64(col("tokens")).cast("decimal(38,0)"))).collect()(0)
    def long(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    (long(0), long(1), long(2),
      Option(r.getDecimal(3)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  private def selAgg(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(col("n_tok").cast("long"))).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def kept(r: (DataFrame, ScanMetrics)): Map[String, Double] = Map(
    "files_kept_ratio" -> r._2.filesKept.toDouble / math.max(1, r._2.filesTotal),
    "manifests_kept_ratio" -> r._2.manifestsKept.toDouble / math.max(1, r._2.manifestsTotal))

  def register(t: TokenTable): Unit = GraftSql.register(spark, t, view)

  /** A full scan. `want` gives (rows, n_tok sum, and the token hash sum
    * when the workload knows it); token count must equal n_tok sum. */
  def full(t: TokenTable, want: (Long, Long, Option[BigDecimal])): Unit = {
    val tr = ctx.tracer
    ctx.op("full_scan", want._1) {
      val (df, _) = tr.span("table.scan_plan")(t.scan())(kept)
      tr.span("table.scan_exec")(fullAgg(df))()
    }.filter(_ => checking).foreach(got =>
      ctx.check("full scan: rows, n_tok sum, token count, token hash")(
      got._1 == want._1 && got._2 == want._2 && got._3 == got._2 &&
        want._3.forall(_ == got._4)))
  }

  /** The next seeded selective scan, through `TokenTable.scan` or SQL;
    * `expect` computes its (rows, n_tok sum). */
  def selective(t: TokenTable, viaSql: Boolean)(expect: Sel => (Long, Long)): Unit = {
    val sel = sels(next % sels.size)
    next += 1
    val want = expect(sel)
    val tr = ctx.tracer
    val got =
      if (viaSql) ctx.op("sql_scan", want._1) {
        tr.span("sources.sql_scan")(selAgg(spark.sql(
          s"SELECT doc_id, n_tok FROM $view WHERE ${sel.sql}")))()
      }
      else ctx.op("pruned_scan", want._1) {
        val (df, _) = tr.span("table.scan_plan")(t.scan(sel.pred))(kept)
        tr.span("table.scan_exec")(selAgg(df))()
      }
    got.filter(_ => checking).foreach(g =>
      ctx.check(s"selective scan ${sel.sql}")(g == want))
  }

  /** Rows added by append commits in (from, to]: `want` = (rows, n_tok sum). */
  def added(t: TokenTable, from: Long, to: Long, want: (Long, Long)): Unit =
    ctx.op("scan_added", want._1) {
      ctx.tracer.span("table.scan_added")(fullAgg(t.scanAdded(from, Some(to))._1))()
    }.filter(_ => checking).foreach(got => ctx.check(s"scanAdded($from, $to)")(
      got._1 == want._1 && got._2 == want._2 && got._3 == got._2))
}

/**
 * `maintain`: bulk maintenance on a fresh table per cycle — ingest from
 * many small input files, compact, Z-order, a training read of the
 * clustered layout, a uniform bulk MERGE, expire. Rewrite and the
 * bulk-merge path do the writing; the reads see the layout they leave.
 */
final class MaintainWorkload(ctx: Ctx) extends Workload {
  import ctx.spark
  import Workload._

  private val rows: Long = if (ctx.smoke) 3000L else 32000L
  private val files: Int = if (ctx.smoke) 16 else 48
  private val warmRows: Long = if (ctx.smoke) 1000L else 1500L
  private val warmFiles: Int = 8
  private val view = "perfbench_maintain"

  private final case class Inputs(rows: Long, base: DataFrame, changes: DataFrame,
      fpBase: Fingerprint = null, fpMerged: Fingerprint = null,
      ingestedBytes: Double = 0, liveBytes: Double = 0)

  private var full: Inputs = _
  private var warm: Inputs = _
  private val reads = new Reads(ctx, view)
  private var narrow: Array[(String, Int, String)] = _
  private var cycles = 0
  private var last: TokenTable = _
  private val ingest, compact, zorder, merge = mutable.ArrayBuffer.empty[Double]
  private val writeAmp, spaceAmp = mutable.ArrayBuffer.empty[Double]

  def table: TokenTable = last
  def minSteps: Int = 2
  val writeThroughput: Set[String] = Set("append", "compact", "zorder", "merge")
  val writeLatency: Set[String] = writeThroughput + "expire"

  def prepare(): Unit = {
    // the warm-up runs unchecked on a small table straight from the generator
    warm = Inputs(warmRows, Gen.frame(spark, ctx.seed + 1, 0, warmRows, 4),
      Gen.bulkChanges(spark, ctx.seed + 1, warmRows, 4))
    val basePath = ctx.dir("input-base").toString
    val changesPath = ctx.dir("input-changes").toString
    Gen.frame(spark, ctx.seed, 0, rows, 8).write.parquet(basePath)
    Gen.bulkChanges(spark, ctx.seed, rows, 8).write.parquet(changesPath)
    val b = spark.read.parquet(basePath)
    val c = spark.read.parquet(changesPath)
    val upserts = c.filter(col("_op") === "upsert").drop("_op")
    // the expected post-MERGE table, from the generator's base table and
    // change-set with plain DataFrame ops
    val merged = b.join(c.select("doc_id"), Seq("doc_id"), "left_anti").unionByName(upserts)
    val fpBase = Gen.fingerprint(b)
    val fpMerged = Gen.fingerprint(merged)
    narrow = Array.tabulate(rows.toInt)(i =>
      (Gen.docId(ctx.seed, i), Gen.nTok(ctx.seed, i), Gen.source(ctx.seed, i)))
    // updates keep their row's doc_id, n_tok and source: the same logical
    // bytes again; inserts are new generator rows
    val upsertBytes = narrow.indices.iterator
      .filter(i => Gen.bulkOp(ctx.seed, i) == "upsert")
      .map { i => val (d, n, src) = narrow(i); Gen.logicalBytes(d, n, src) }.sum +
      (rows until rows + rows / 100).iterator
        .map(i => Gen.logicalBytes(Gen.docId(ctx.seed, i), Gen.nTok(ctx.seed, i),
          Gen.source(ctx.seed, i))).sum
    full = Inputs(rows, b, c, fpBase, fpMerged,
      fpBase.logicalBytes + upsertBytes, fpMerged.logicalBytes)
  }

  def setup(rep: Int): Unit = cycle(warm, warmFiles, record = false)

  def step(): Unit = cycle(full, files, record = true)

  private def cycle(in: Inputs, nFiles: Int, record: Boolean): Unit = {
    val root = ctx.dir(s"table-maintain-$cycles")
    cycles += 1
    val t = TokenTable.create(root.toString, spark)
    val ledger = new DiskLedger(root)
    val tr = ctx.tracer
    def rate(out: mutable.ArrayBuffer[Double], seqs: Long)(s: Option[_]): Unit =
      if (ctx.counting && s.isDefined) out += seqs / ctx.samples.last.seconds
    // the warm-up in set-up skips the checks: they are not the program's work
    def ok(what: String, want: Fingerprint): Unit = if (record) {
      ledger.update()
      ctx.check(s"maintain $what: count, xxhash64 sum, unique doc_id")(
        { val got = Gen.fingerprint(t.scan()._1); got == want && got.unique })
    }
    val n = in.rows
    rate(ingest, n)(ctx.op("append", n) {
      tr.span("table.append")(t.append(in.base, nFiles))(s =>
        Map("output_mb" -> addedMb(s)))
    })
    ok("append", in.fpBase)
    val appended = t.log.currentVersion().getOrElse(0L)
    rate(compact, n)(ctx.op("compact", n) {
      tr.span("rewrite.compact")(Rewrite.compact(t, spark, rewriteCfg("docid")))(s =>
        Map("output_mb" -> addedMb(s), "files_out" -> summaryD(s, "added-files")))
    })
    ok("compact", in.fpBase)
    rate(zorder, n)(ctx.op("zorder", n) {
      tr.span("rewrite.cluster")(Rewrite.cluster(t, spark, rewriteCfg("zkey")))(s =>
        Map("output_mb" -> addedMb(s)))
    })
    ok("zorder", in.fpBase)
    read(t, in, appended, record)
    rate(merge, n)(ctx.op("merge", n) {
      tr.span("merge.bulk")(Merge.run(t, spark, in.changes,
        targetFileBytes = TargetFileBytes))(s =>
        Map("output_mb" -> addedMb(s), "touched_ratio" -> summaryD(s, "touched-ratio")))
    })
    ok("merge", in.fpMerged)
    ctx.op("expire") {
      tr.span("expire.run")(Expire.run(t, retain = 1))(r =>
        Map("deleted_files" -> r.deletedDataFiles.size.toDouble))
    }
    ok("expire", in.fpMerged)
    if (ctx.counting) {
      writeAmp += ledger.written / in.ingestedBytes
      spaceAmp += ledger.total / in.liveBytes
    }
    if (last != null) deleteTree(Paths.get(last.root))
    last = t
  }

  /** The training read of the compacted, Z-ordered layout: two full
    * scans, four selective scans per front door, one incremental read of
    * the ingest commit. Expected values come from the generator; the
    * warm-up in set-up reads once of each kind, unchecked. */
  private def read(t: TokenTable, in: Inputs, appended: Long, record: Boolean): Unit = {
    reads.register(t)
    reads.checking = record
    val nTok = if (record) in.fpBase.nTokSum else 0L
    def expect(s: Sel): (Long, Long) =
      if (!record) (0L, 0L)
      else narrow.foldLeft((0L, 0L)) { case ((c, n), (d, k, src)) =>
        if (s.hit(d, k, src)) (c + 1, n + k) else (c, n) }
    val (fulls, pairs) = if (record) (2, 4) else (1, 1)
    (0 until fulls).foreach(_ =>
      reads.full(t, (in.rows, nTok, Option(in.fpBase).map(_.tokHashSum))))
    (0 until pairs).foreach { _ =>
      reads.selective(t, viaSql = false)(expect)
      reads.selective(t, viaSql = true)(expect)
    }
    reads.added(t, appended - 1, appended, (in.rows, nTok))
    reads.checking = true
  }

  def finish(): Map[String, Double] = Map(
    "write_amp" -> median(writeAmp.toSeq),
    "space_amp" -> median(spaceAmp.toSeq),
    "ingest_seq_per_s" -> median(ingest.toSeq),
    "compact_seq_per_s" -> median(compact.toSeq),
    "zorder_seq_per_s" -> median(zorder.toSeq),
    "merge_seq_per_s" -> median(merge.toSeq))
}

/**
 * `upsert`: the freshness path. Small commits on a compacted, Z-ordered
 * table — appends, MERGE change-sets, SQL DELETE and UPDATE — with an
 * expire and manifest rewrite after every four commits, and a reader that
 * scans the fresh state after every commit. Per-commit driver work
 * dominates, the snapshot log grows, and Rewrite does nothing.
 *
 * A driver-side model (doc_id -> row) follows every operation: each read
 * is checked against it, and the table must equal it at the end.
 */
final class UpsertWorkload(ctx: Ctx) extends Workload {
  import ctx.spark
  import Workload._

  private val baseRows: Long = if (ctx.smoke) 3000L else 8000L
  private val baseFiles: Int = if (ctx.smoke) 8 else 16
  private val appendRows: Int = if (ctx.smoke) 200 else 2000
  private val mergeRows: Int = if (ctx.smoke) 100 else 1000
  private val view = "perfbench_upsert"
  /** Snapshots the expire round keeps. */
  private val Retain = 4
  /** Rotations after which write and space amplification are read, so
    * that they describe the same table state on every run. */
  private val AmpAfter = 2

  private var t: TokenTable = _
  private var ledger: DiskLedger = _
  private val reads = new Reads(ctx, view)
  private val model = mutable.HashMap.empty[String, SeqRow]
  private val keys = mutable.ArrayBuffer.empty[String]
  private val keyIndex = mutable.HashMap.empty[String, Int]
  private var nextId = 0L
  private var commits = 0
  private var rotations = 0
  private var amp: (Double, Double) = _
  private var rnd: java.util.SplittableRandom = _
  private var ingestedBytes = 0.0
  private val expireRounds = mutable.ArrayBuffer.empty[Double]

  def table: TokenTable = t
  def minSteps: Int = AmpAfter
  val writeThroughput: Set[String] =
    Set("append_small", "merge_small", "dml_delete", "dml_update")
  val writeLatency: Set[String] = writeThroughput + "expire_round"

  private def put(r: SeqRow): Unit = {
    if (!model.contains(r.doc_id)) { keyIndex(r.doc_id) = keys.size; keys += r.doc_id }
    model(r.doc_id) = r
    ingestedBytes += Gen.logicalBytes(r.doc_id, r.n_tok, r.source)
  }

  private def remove(k: String): Unit = keyIndex.remove(k).foreach { i =>
    val lastKey = keys.last
    keys(i) = lastKey
    keyIndex(lastKey) = i
    keys.remove(keys.size - 1)
    if (lastKey == k) keyIndex.remove(k)
    model.remove(k)
  }

  private def idOf(docId: String): Long = docId.substring(docId.indexOf('-') + 1).toLong

  def prepare(): Unit = ()

  /** Set-up builds the compacted, Z-ordered base table; the first run
    * also warms every operation kind once. */
  def setup(rep: Int): Unit = {
    if (t != null) deleteTree(Paths.get(t.root))
    model.clear(); keys.clear(); keyIndex.clear()
    ingestedBytes = 0.0
    commits = 0
    rotations = 0
    rnd = new java.util.SplittableRandom(ctx.seed)
    val root = ctx.dir(s"table-upsert-$rep")
    t = TokenTable.create(root.toString, spark)
    ledger = new DiskLedger(root)
    (0L until baseRows).foreach(i => put(Gen.row(ctx.seed, i)))
    nextId = baseRows
    t.append(Gen.frame(spark, ctx.seed, 0, baseRows, 4), baseFiles)
    Rewrite.compact(t, spark, rewriteCfg("docid"))
    Rewrite.cluster(t, spark, rewriteCfg("zkey"))
    reads.register(t)
    ledger.update()
    if (rep == 0) { step(); rotations = 0 }
  }

  /** One rotation: append, MERGE, DELETE, UPDATE, each followed by the
    * reader, then an expire + manifest-rewrite round. The warm-up rotation
    * in set-up reads once. */
  def step(): Unit = {
    Seq(() => appendSmall(), () => mergeSmall(), () => dmlDelete(), () => dmlUpdate())
      .zipWithIndex.foreach { case (commit, i) =>
        commits += 1
        commit()
        ctx.tracer.probe("meta.read", ctx.counting)(t.log.current().map(t.log.dataFiles))
        ledger.update()
        if (ctx.measuring || i == 0) read()
      }
    expireRound()
    rotations += 1
    if (rotations == AmpAfter) amp = (ledger.written / ingestedBytes, ledger.total /
      model.valuesIterator.map(r => Gen.logicalBytes(r.doc_id, r.n_tok, r.source)).sum.toDouble)
  }

  /** The reader: the fresh state, whole and through both front doors. */
  private def read(): Unit = {
    reads.register(t)
    reads.full(t, (model.size.toLong, model.valuesIterator.map(_.n_tok.toLong).sum, None))
    reads.selective(t, viaSql = false)(expect)
    reads.selective(t, viaSql = true)(expect)
  }

  private def expect(s: Sel): (Long, Long) =
    model.valuesIterator.foldLeft((0L, 0L)) { case ((c, n), r) =>
      if (s.hit(r.doc_id, r.n_tok, r.source)) (c + 1, n + r.n_tok) else (c, n) }

  private def appendSmall(): Unit = {
    val rows = (nextId until nextId + appendRows).map(i => Gen.row(ctx.seed, i))
    nextId += appendRows
    val before = t.log.currentVersion().getOrElse(0L)
    ctx.op("append_small", rows.size) {
      ctx.tracer.span("table.append_small")(
        t.append(spark.createDataFrame(rows), 4))()
    }.foreach { s =>
      rows.foreach(put)
      reads.added(t, before, s.version,
        (rows.size.toLong, rows.iterator.map(_.n_tok.toLong).sum))
    }
  }

  private def mergeSmall(): Unit = {
    val version = commits
    val nUpd = mergeRows * 6 / 10
    val nDel = mergeRows / 10
    val picked = mutable.LinkedHashSet.empty[String]
    while (picked.size < math.min(nUpd + nDel, keys.size))
      picked += keys(rnd.nextInt(keys.size))
    val (upd, del) = picked.toSeq.splitAt(nUpd)
    val updRows = upd.map { k =>
      val r = model(k)
      r.copy(tokens = Gen.tokens(ctx.seed, idOf(k), r.n_tok, version))
    }
    val insRows = (nextId until nextId + (mergeRows - nUpd - nDel))
      .map(i => Gen.row(ctx.seed, i))
    nextId += insRows.size
    val changes = (updRows ++ insRows).map(r =>
      ChangeRow(r.doc_id, r.tokens, r.n_tok, r.source, "upsert")) ++
      del.map { k => val r = model(k); ChangeRow(r.doc_id, r.tokens, r.n_tok, r.source, "delete") }
    ctx.op("merge_small", changes.size) {
      ctx.tracer.span("merge.small")(
        Merge.run(t, spark, spark.createDataFrame(changes),
          targetFileBytes = TargetFileBytes))(s =>
        Map("touched_ratio" -> summaryD(s, "touched-ratio")))
    }.foreach { _ =>
      (updRows ++ insRows).foreach(put)
      del.foreach(remove)
    }
  }

  /** A two-hex-char doc_id prefix (1/256 of the keys). */
  private def prefix(): String = f"${rnd.nextInt(256)}%02x"

  private def dmlDelete(): Unit = {
    val p = prefix()
    val maxTok = 256
    val hit = keys.filter(k => k.startsWith(p) && model(k).n_tok < maxTok).toSeq
    ctx.op("dml_delete", hit.size) {
      ctx.tracer.span("sources.dml")(spark.sql(
        s"DELETE FROM $view WHERE doc_id LIKE '$p%' AND n_tok < $maxTok"))()
    }.foreach(_ => hit.foreach(remove))
  }

  private def dmlUpdate(): Unit = {
    val p = prefix()
    val hit = keys.filter(_.startsWith(p)).toSeq
    ctx.op("dml_update", hit.size) {
      ctx.tracer.span("sources.dml")(spark.sql(
        s"UPDATE $view SET tokens = transform(tokens, x -> x + 7) WHERE doc_id LIKE '$p%'"))()
    }.foreach(_ => hit.foreach { k =>
      val r = model(k)
      put(r.copy(tokens = r.tokens.map(_ + 7)))
    })
  }

  private def expireRound(): Unit = {
    ctx.op("expire_round") {
      ctx.tracer.span("expire.run")(Expire.run(t, retain = Retain))(r =>
        Map("deleted_files" -> r.deletedDataFiles.size.toDouble))
      ctx.tracer.span("expire.rewrite_manifests")(Expire.rewriteManifests(t))()
    }.foreach(_ => if (ctx.counting) expireRounds += ctx.samples.last.seconds)
    ledger.update()
  }

  def finish(): Map[String, Double] = {
    ctx.check("upsert: table equals the driver-side model (count, xxhash64 sum, unique doc_id)") {
      val got = Gen.fingerprint(t.scan()._1)
      val want = Gen.fingerprint(spark.createDataFrame(model.values.toSeq))
      got == want && got.unique
    }
    val commitLat = ctx.samples.filter(s => writeThroughput(s.kind)).map(_.seconds).toSeq
    Map(
      "write_amp" -> amp._1,
      "space_amp" -> amp._2,
      "commit_p50_s" -> quantile(commitLat, 0.5),
      "commit_p90_s" -> quantile(commitLat, 0.9),
      "expire_s" -> expireRounds.sum,
      "commits" -> commitLat.size.toDouble)
  }
}
