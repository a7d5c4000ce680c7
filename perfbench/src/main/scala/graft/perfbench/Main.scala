package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.Maintain

/**
 * The benchmark's JVM side: one workload, one seed, one measured window.
 *
 * {{{
 * graft.perfbench.Main --workload maintain|upsert --seed N
 *   --seconds S --trace 0|1 --work-dir DIR [--smoke]
 * }}}
 *
 * Runs in the production session (`Maintain.session()`), so a change to
 * the engine's session config is measured. Order: generate inputs and
 * expected outputs; set up `SetupReps` times (set-up time is their
 * median, the first one in the fresh JVM is also reported on its own);
 * run the workload's `minSteps` counted closed-loop steps, then further
 * uncounted steps only while the loop has lasted less than `--seconds`;
 * check outputs; print one info line, then the result line.
 *
 * With `--trace 1` every other counted operation of each kind is traced
 * (Tracer); the result carries the per-layer metrics and, per end-to-end
 * metric, traced minus untraced.
 */
object Main {
  val SetupReps = 3

  /** End-to-end metrics, with units; every workload emits all of them. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cold_setup_cpu_s" -> "cpu_s",
    "nonheap_rss_mb" -> "MB",
    "write_seq_per_cpu_s" -> "seq/cpu_s", "scan_cpu_mean_s" -> "cpu_s",
    "write_amp" -> "ratio", "space_amp" -> "ratio")

  private val SelectiveScans = Set("pruned_scan", "sql_scan")

  /** Seed kept out of every tuning run, for verifying claims. */
  val HeldOutSeed = 7919L

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap ++ (if (args.contains("--smoke")) Map("smoke" -> "1") else Map.empty)
    val name = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work-dir", sys.error("--work-dir is required")))
      .toAbsolutePath
    Files.createDirectories(work)

    val spark = Maintain.session()
    try {
      val tracer = new Tracer(spark, trace)
      val ctx = new Ctx(spark, tracer, work, seed, opts.contains("smoke"))
      val w: Workload = name match {
        case "maintain" => new MaintainWorkload(ctx)
        case "upsert" => new UpsertWorkload(ctx)
        case other => sys.error(s"unknown workload '$other'")
      }
      val p0 = System.nanoTime()
      w.prepare()
      val prepareS = (System.nanoTime() - p0) / 1e9
      val (setupS, setupCpuS) = (0 until SetupReps).map { rep =>
        val c0 = Ctx.processCpuNs()
        val t0 = System.nanoTime()
        w.setup(rep)
        ((System.nanoTime() - t0) / 1e9, (Ctx.processCpuNs() - c0) / 1e9)
      }.unzip

      // the figures come from the first `minSteps` steps only, so every run
      // counts the same work whatever the engine's speed; later steps run
      // (and are checked) only while the loop has lasted less than --seconds
      ctx.measuring = true
      val m0 = System.nanoTime()
      var steps = 0
      while (steps < w.minSteps || (System.nanoTime() - m0) / 1e9 < seconds) {
        ctx.counting = steps < w.minSteps
        w.step()
        steps += 1
      }
      val loopS = (System.nanoTime() - m0) / 1e9
      ctx.measuring = false
      ctx.counting = false
      val detail = w.finish()
      val rss = peakRssMb()

      // CPU time, not wall time, makes the gated figures: on a shared host
      // other tenants' load stretches wall time by tens of percent in bursts
      // (wall-clock figures are in the info line). Both are totals over
      // every counted operation of their kinds, not medians: the kinds mix
      // operations of different cost, and a median falls between them
      def e2e(traced: Boolean): Map[String, Double] = {
        val ss = ctx.samples.filter(_.traced == traced)
        val writes = ss.filter(s => w.writeThroughput(s.kind))
        val scans = ss.filter(s => SelectiveScans(s.kind))
        Map(
          "write_seq_per_cpu_s" -> writes.map(_.seqs).sum / writes.map(_.cpuSeconds).sum,
          "scan_cpu_mean_s" -> scans.map(_.cpuSeconds).sum / scans.size)
      }
      val base = e2e(traced = false)
      val metrics: Map[String, (Double, String)] =
        if (!trace)
          EndToEnd.map { case (n, unit) =>
            n -> (n match {
              case "setup_s" => Workload.median(setupS)
              case "cold_setup_cpu_s" => setupCpuS.head
              case "nonheap_rss_mb" => rss - heapCommittedMb()
              case "write_amp" | "space_amp" => detail(n)
              case other => base(other)
            }, unit)
          }.toMap
        else {
          val traced = e2e(traced = true)
          val raw = tracer.layerMetrics(Layers.spanKinds :+ "meta.read", Layers.extras)
          val layer = raw ++ metaFigures(w.table) ++
            Map("meta.read_s" -> raw("meta.read.wall_s")) ++
            base.keys.map(k => s"overhead.$k" -> (traced(k) - base(k)))
          Layers.all.map { case (n, unit) => n -> (layer.getOrElse(n, 0.0), unit) }.toMap
        }

      val info = Map(
        "workload" -> name, "seed" -> seed, "held_out_seed" -> HeldOutSeed,
        "trace" -> trace, "smoke" -> ctx.smoke,
        "env" -> environment(spark, work),
        "prepare_s" -> prepareS, "setup_runs_s" -> setupS, "setup_runs_cpu_s" -> setupCpuS,
        "peak_rss_mb" -> rss, "heap_committed_mb" -> heapCommittedMb(),
        "steps" -> steps, "loop_s" -> loopS, "operations" -> ctx.samples.size,
        "op_fail_ratio" -> ctx.failed.toDouble / math.max(1L, ctx.attempted),
        "detail" -> detail,
        "ungated" -> {
          val ss = ctx.samples.filter(!_.traced)
          val writes = ss.filter(s => w.writeThroughput(s.kind))
          val fulls = ss.filter(_.kind == "full_scan")
          def lat(kinds: Set[String], q: Double) =
            Workload.quantile(ss.filter(s => kinds(s.kind)).map(_.seconds).toSeq, q)
          def cpu50(kinds: Set[String]) =
            Workload.median(ss.filter(s => kinds(s.kind)).map(_.cpuSeconds).toSeq)
          Map(
            "write_cpu_p50_s" -> cpu50(w.writeLatency),
            "scan_cpu_p50_s" -> cpu50(SelectiveScans),
            "write_seq_per_s" -> writes.map(_.seqs).sum / writes.map(_.seconds).sum,
            "write_p50_s" -> lat(w.writeLatency, 0.5),
            "write_p90_s" -> lat(w.writeLatency, 0.9),
            "scan_seq_per_s" -> fulls.map(_.seqs).sum / fulls.map(_.seconds).sum,
            "scan_seq_per_cpu_s" -> fulls.map(_.seqs).sum / fulls.map(_.cpuSeconds).sum,
            "scan_p50_s" -> lat(SelectiveScans, 0.5),
            "scan_p90_s" -> lat(SelectiveScans, 0.9),
            "samples" -> Map(
              "write" -> ss.count(s => w.writeLatency(s.kind)),
              "scan" -> ss.count(s => SelectiveScans(s.kind))))
        },
        "ops" -> ctx.samples.groupBy(_.kind).map { case (k, ss) =>
          k -> Map("n" -> ss.size, "median_s" -> Workload.median(ss.map(_.seconds).toSeq),
            "seconds" -> ss.map(_.seconds), "cpu_seconds" -> ss.map(_.cpuSeconds))
        })
      val json = new ObjectMapper().registerModule(DefaultScalaModule)
      println(json.writeValueAsString(Map("info" -> info)))
      println(json.writeValueAsString(Map(
        "correct" -> (ctx.failed == 0 && metrics.values.forall(v => !v._1.isNaN)),
        "attempted" -> ctx.attempted,
        "failed" -> ctx.failed,
        "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
    } finally spark.stop()
  }

  /** Heap the JVM has committed; with a fixed, pre-touched heap all of it
    * is resident from the start. */
  private def heapCommittedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / Tracer.MiB

  /** The JVM's peak resident set (VmHWM). */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Table-state figures of the meta layer and lineage log at the end. */
  private def metaFigures(t: graft.TokenTable): Map[String, Double] = {
    val log = t.log
    val cur = log.current()
    val lineage = Paths.get(t.root, "meta", "lineage")
    val records =
      if (!Files.isDirectory(lineage)) 0L
      else {
        val s = Files.list(lineage)
        try s.iterator().asScala.map(p => Files.readAllLines(p).size.toLong).sum
        finally s.close()
      }
    Map(
      "meta.snapshots" -> log.versions().size.toDouble,
      "meta.manifests" -> cur.map(_.manifestList.size).getOrElse(0).toDouble,
      "meta.files" -> cur.map(log.dataFiles(_).size).getOrElse(0).toDouble,
      "lineage.records" -> records.toDouble)
  }

  private def environment(spark: org.apache.spark.sql.SparkSession, work: Path)
      : Map[String, Any] = {
    val store = Files.getFileStore(work)
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> spark.sparkContext.master,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "jdk" -> s"${System.getProperty("java.vendor")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "table_dir" -> work.toString,
      "table_fs" -> s"${store.`type`()} (${store.name()})",
      "flush_policy" -> ("none: the engine never fsyncs; commits publish by hard " +
        "link over RawLocalFileSystem and table files stay in the OS page cache"),
      "scaling_pair" -> "not measured")
  }
}

/** The per-layer metric names a traced run emits, with their units. */
object Layers {
  val spanKinds: Seq[String] = Seq(
    "table.append", "rewrite.compact", "rewrite.cluster", "merge.bulk", "expire.run",
    "table.append_small", "merge.small", "sources.dml", "expire.rewrite_manifests",
    "table.scan_plan", "table.scan_exec", "sources.sql_scan", "table.scan_added")

  private val common = Seq("wall_s" -> "s", "driver_s" -> "s", "task_cpu_s" -> "s",
    "shuffle_mb" -> "MB", "codegen_compiles" -> "count")

  /** Span counters: (metric name, unit). */
  val extraUnits: Seq[(String, String)] = Seq(
    "table.append.output_mb" -> "MB",
    "rewrite.compact.output_mb" -> "MB",
    "rewrite.compact.files_out" -> "count",
    "rewrite.cluster.output_mb" -> "MB",
    "merge.bulk.output_mb" -> "MB",
    "merge.bulk.touched_ratio" -> "ratio",
    "merge.small.touched_ratio" -> "ratio",
    "merge.small.jobs" -> "count",
    "sources.dml.jobs" -> "count",
    "expire.run.deleted_files" -> "count",
    "table.scan_plan.files_kept_ratio" -> "ratio",
    "table.scan_plan.manifests_kept_ratio" -> "ratio",
    "table.scan_exec.input_mb" -> "MB")

  val extras: Seq[String] = extraUnits.map(_._1)

  val all: Seq[(String, String)] =
    spanKinds.flatMap(k => common.map { case (f, u) => s"$k.$f" -> u }) ++ extraUnits ++ Seq(
      "meta.read_s" -> "s",
      "meta.snapshots" -> "count",
      "meta.manifests" -> "count",
      "meta.files" -> "count",
      "lineage.records" -> "count",
      "spark.gc_s" -> "s",
      "spark.spill_mb" -> "MB",
      "spark.plan_s" -> "s",
      "spark.untagged_job_s" -> "s",
      "overhead.write_seq_per_cpu_s" -> "seq/cpu_s",
      "overhead.scan_cpu_mean_s" -> "cpu_s")
}
