package graft

import org.apache.spark.sql.SparkSession

import graft.gen.Synth
import graft.maint.{Expire, Merge, Rewrite, RewriteConfig}

/**
 * CLI entry point (SURVEY.md §3.5):
 *
 * {{{
 * spark-submit --class graft.Maintain <jar> <command> --table <root> [opts]
 *
 * commands:
 *   init     --rows N [--seed S] [--files K]     create + append synthetic data
 *   append   --rows N [--seed S] [--files K]     append another generation
 *   compact  [--target-mb M]                     FFD bin-packing compaction
 *   zorder   [--target-mb M]                     Z-order clustering rewrite
 *   hilbert  [--target-mb M]                     Hilbert clustering rewrite
 *   merge    --updates U --inserts I --deletes D [--seed S]  synthetic MERGE
 *   expire   --retain K                          snapshot expire + GC
 *   rewrite-manifests                            metadata compaction
 *   describe                                     file/size/version summary
 *   scan     [--source S] [--min-tok A] [--max-tok B]  pruned scan + metrics
 *   scan-added --from-version F [--to-version T]  incremental append scan
 *   rollback --to-version V                      restore an earlier state
 *   history                                      one line per snapshot
 * }}}
 *
 * Local runs honor SPARK_GRAFT_CPUS (two parallelism levels = the sandbox's
 * stand-in for N vs 4N executors, BASELINE.md).
 */
object Maintain {

  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName("graft-maintain")
      .config("spark.sql.extensions", "graft.sources.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.sql.files.maxPartitionBytes", (32L * 1024 * 1024).toString)
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.hadoop.parquet.writer.version", "v2")
      // writer row-group buffers sized to the engine's actual file
      // targets: the 128 MB default makes every open writer grow a
      // 128 MB column buffer, and the copy-forward merge fuses read +
      // write into ONE task — 32 concurrent fused tasks × (vectored-read
      // range buffers + 128 MB writer buffers) OOMed an 8 g heap at
      // bench scale. 32 MB bounds both sides; on a real cluster row
      // groups this size still saturate scan vectorization.
      .config("spark.hadoop.parquet.block.size", (32L * 1024 * 1024).toString)
      .config("spark.hadoop.parquet.hadoop.vectored.io.enabled", "false")
      // ~1 KB token rows: 4096-row reader batches are ~4.5 MB of column
      // vectors per task plus doubling-growth churn; 1024 keeps 32
      // concurrent fused read+write tasks inside the heap
      .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
      // Every engine write is already source-clustered per task: bin
      // exchanges place each partition-pure bin in its own task
      // (`repartitionById`), and a copy-forward merge task reads whole
      // partition-pure files, so its rows arrive in runs of one source.
      // The dynamic-partition writer's sort — which MATERIALIZES each
      // task's whole input before writing and spilled GBs at 32 cores —
      // buys nothing there, and skipping it keeps a task's own order (the
      // compaction doc_id sort) in the files: concurrent writers bound
      // memory at writers × block.size instead. Scans keep Spark's 4 MB
      // open cost, which packs small files into ≤ maxPartitionBytes
      // splits (one task per file made a 20-row DELETE run ~100-200
      // tasks); a packed task writes one file per source it holds, and
      // only a task holding more than 4 sources falls back to the sort.
      .config("spark.sql.maxConcurrentOutputFileWriters", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "8192")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.execution.rangeExchange.sampleSizePerPartition", "400")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    val cmd = args.head
    val opts = parse(args.tail)
    val root = opts.getOrElse("table",
      { System.err.println("error: --table <root> is required"); sys.exit(2); "" })

    val spark = session()
    val nowMs = System.currentTimeMillis()
    try {
      cmd match {
        case "init" =>
          val t = TokenTable.create(root, spark, nowMs)
          val rows = opts.getOrElse("rows", "100000").toLong
          val df = Synth.table(spark, rows, opts.getOrElse("seed", "42").toLong)
          val s = t.append(df, opts.getOrElse("files", "200").toInt, nowMs)
          report(t, s.version)
        case "append" =>
          val t = TokenTable.load(root, spark)
          val rows = opts.getOrElse("rows", "100000").toLong
          val df = Synth.table(spark, rows, opts.getOrElse("seed", "43").toLong)
          val s = t.append(df, opts.getOrElse("files", "200").toInt, nowMs)
          report(t, s.version)
        case "compact" =>
          val t = TokenTable.load(root, spark)
          val s = Rewrite.compact(t, spark, cfg(opts, "docid"), nowMs)
          report(t, s.version)
        case "zorder" =>
          val t = TokenTable.load(root, spark)
          val s = Rewrite.cluster(t, spark, cfg(opts, "zkey"), nowMs)
          report(t, s.version)
        case "hilbert" =>
          val t = TokenTable.load(root, spark)
          val s = Rewrite.cluster(t, spark, cfg(opts, "hilbert"), nowMs)
          report(t, s.version)
        case "merge" =>
          val t = TokenTable.load(root, spark)
          val baseRows = t.describe()("rows").toLong
          val changes = Synth.changeSet(spark, baseRows,
            opts.getOrElse("seed", "42").toLong,
            opts.getOrElse("updates", "1000").toLong,
            opts.getOrElse("inserts", "500").toLong,
            opts.getOrElse("deletes", "200").toLong)
          val s = Merge.run(t, spark, changes, nowMs)
          report(t, s.version)
        case "expire" =>
          val t = TokenTable.load(root, spark)
          val r = Expire.run(t, opts.getOrElse("retain", "2").toInt)
          println(s"expired versions: ${r.expiredVersions.mkString(",")}")
          println(s"deleted data files: ${r.deletedDataFiles.size}")
          println(s"deleted manifests: ${r.deletedManifests.size}")
          if (opts.contains("sweep-orphans")) {
            val o = Expire.sweepOrphans(t,
              graceMs = opts.getOrElse("grace-hours", "24").toLong * 3600 * 1000)
            println(s"orphans swept: data=${o.dataFiles.size} " +
              s"manifests=${o.manifests.size} tmp=${o.tmpSnapshots.size}")
          }
          report(t, t.log.currentVersion().getOrElse(-1L))
        case "replace" =>
          // dynamic partition overwrite with synthetic payload for the
          // given sources: regenerates those partitions' rows (new seed)
          val t = TokenTable.load(root, spark)
          val sources = opts.getOrElse("sources",
            { System.err.println("error: --sources a,b,.. required"); sys.exit(2); "" })
            .split(",").toSeq
          val rows = opts.getOrElse("rows", "10000").toLong
          val df = Synth.table(spark, rows, opts.getOrElse("seed", "77").toLong)
            .filter(org.apache.spark.sql.functions.col("source").isin(sources: _*))
          val s = t.replacePartitions(df, opts.getOrElse("files", "8").toInt, nowMs)
          report(t, s.version)
        case "sql" =>
          val t = TokenTable.load(root, spark)
          // --version N = time travel: the view serves snapshot N's files
          val idx = graft.sources.GraftSql.register(spark, t, "graft_tokens",
            opts.get("version").map(_.toLong))
          val q = opts.getOrElse("query",
            "SELECT source, count(*) AS n FROM graft_tokens GROUP BY source ORDER BY source")
          spark.sql(q).show(100, truncate = false)
          idx.lastScan.foreach(m => println(
            s"filesKept=${m.filesKept}/${m.filesTotal} " +
              f"pruning=${m.pruningRatio}%.3f"))
        case "evolve" =>
          // metadata-only ADD COLUMN: no data rewrite, scans null-fill
          val t = TokenTable.load(root, spark)
          val spec = opts.getOrElse("column",
            { System.err.println("error: --column \"name type\" required"); sys.exit(2); "" })
          val (cn, ct) = spec.split("\\s+", 2) match {
            case Array(n, ty) => (n, ty)
            case _ => System.err.println("error: --column needs \"name type\""); sys.exit(2); ("", "")
          }
          val s = t.addColumn(cn, ct, nowMs)
          println(s"schema=${s.schemaDDL}")
          report(t, s.version)
        case "rewrite-manifests" =>
          val t = TokenTable.load(root, spark)
          val s = Expire.rewriteManifests(t, nowMs)
          report(t, s.version)
        case "dq" =>
          val t = TokenTable.load(root, spark)
          val r = graft.dq.DQ.gate(t, spark)
          println(s"DQ PASSED: " + r.checks.toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=$v" }.mkString(" "))
        case "describe" =>
          val t = TokenTable.load(root, spark)
          report(t, t.log.currentVersion().getOrElse(-1L))
        case "scan" =>
          val t = TokenTable.load(root, spark)
          var pred: Predicate = Predicate.True
          opts.get("source").foreach(s =>
            pred = Predicate.And(pred, Predicate.Eq("source", s)))
          (opts.get("min-tok"), opts.get("max-tok")) match {
            case (Some(a), Some(b)) =>
              pred = Predicate.And(pred, Predicate.Between("n_tok", a.toInt, b.toInt))
            case (Some(a), None) =>
              pred = Predicate.And(pred, Predicate.Ge("n_tok", a.toInt))
            case (None, Some(b)) =>
              pred = Predicate.And(pred, Predicate.Le("n_tok", b.toInt))
            case _ =>
          }
          val (df, m) = t.scan(pred)
          val n = df.count()
          println(s"rows=$n filesKept=${m.filesKept}/${m.filesTotal} " +
            f"pruning=${m.pruningRatio}%.3f bytesKept=${m.bytesKept}/${m.bytesTotal} " +
            s"manifestsKept=${m.manifestsKept}/${m.manifestsTotal}")
        case "scan-added" =>
          val t = TokenTable.load(root, spark)
          val from = opts.getOrElse("from-version",
            { System.err.println("error: --from-version is required"); sys.exit(2); "" }).toLong
          val to = opts.get("to-version").map(_.toLong)
          val (df, m) = t.scanAdded(from, to)
          val n = df.count()
          println(s"rows=$n addedFiles=${m.filesKept}/${m.filesTotal} " +
            s"addedBytes=${m.bytesKept}")
        case "rollback" =>
          val t = TokenTable.load(root, spark)
          val to = opts.getOrElse("to-version",
            { System.err.println("error: --to-version is required"); sys.exit(2); "" }).toLong
          val s = t.rollback(to, nowMs)
          report(t, s.version)
        case "history" =>
          // DESCRIBE HISTORY analog: one line per retained snapshot, from
          // metadata alone (manifest-list rollups — no manifest is opened)
          val t = TokenTable.load(root, spark)
          t.log.versions().foreach { v =>
            val s = t.log.snapshot(v)
            val files = s.manifestList.iterator.map(_.fileCount).sum
            val rows = s.manifestList.iterator.map(_.rows).sum
            val extra = s.summary.toSeq.sortBy(_._1)
              .collect { case (k, x) if k != "source-dict" => s"$k=$x" }
            println(s"v=$v parent=${s.parentVersion} op=${s.operation} " +
              s"ts=${s.timestampMs} manifests=${s.manifestList.size} " +
              s"files=$files rows=$rows ${extra.mkString(" ")}")
          }
        case other =>
          System.err.println(s"error: unknown command '$other'"); usage()
          spark.stop(); sys.exit(2)
      }
    } finally spark.stop()
  }

  private def cfg(opts: Map[String, String], sortBy: String): RewriteConfig =
    RewriteConfig(
      targetFileBytes = opts.getOrElse("target-mb", "128").toLong * 1024 * 1024,
      sortBy = opts.getOrElse("sort-by", sortBy))

  private def report(t: TokenTable, v: Long): Unit = {
    val d = t.describe()
    println(s"version=$v " + d.toSeq.sortBy(_._1)
      .map { case (k, x) => s"$k=$x" }.mkString(" "))
  }

  private def parse(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        val k = a.stripPrefix("--")
        if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
          m(k) = args(i + 1); i += 2
        } else { m(k) = "true"; i += 1 }
      } else {
        System.err.println(s"error: unexpected argument '$a'"); usage(); sys.exit(2)
      }
    }
    m.toMap
  }

  private def usage(): Unit = System.err.println(
    """usage: graft.Maintain <init|append|compact|zorder|hilbert|merge|replace|evolve|expire|rewrite-manifests|dq|describe|scan|scan-added|rollback|history|sql> --table <root> [options]
      |  init/append: --rows N --seed S --files K
      |  compact/zorder/hilbert: --target-mb M [--sort-by docid|zkey|hilbert|none]
      |  merge: --updates U --inserts I --deletes D --seed S
      |  replace: --sources a,b,.. --rows N --seed S --files K   (dynamic partition overwrite)
      |  evolve: --column "name type"   (metadata-only ADD COLUMN)
      |  expire: --retain K [--sweep-orphans [--grace-hours H]]
      |  scan: --source S --min-tok A --max-tok B
      |  scan-added: --from-version F [--to-version T]   (incremental append scan)
      |  rollback: --to-version V   (restore an earlier state as a new commit)
      |  sql: --query "SELECT ... FROM graft_tokens ..." [--version N]   (N = time travel)""".stripMargin)
}
