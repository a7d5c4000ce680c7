package graft

import org.apache.spark.sql.SparkSession

/**
 * Round-6 measurement harness (guide §1: measure first, isolate, explain).
 * Bench.scala is FROZEN for measurement, so the per-query isolation lives
 * here: a separate main that replicates Bench's QUERY session exactly
 * (local[$SPARK_GRAFT_CPUS], AQE on, same parquet/shuffle configs) and
 * times each declared query with the same action the driver times
 * (`df.count()`), plus optional repeats (min filters host-window noise)
 * and a plan dump to plans/r06/<query>_<tag>.txt.
 *
 * Usage:
 *   sbt "runMain graft.BenchExtra time [repeats] [namePrefix...]"
 *   sbt "runMain graft.BenchExtra explain <tag> [namePrefix...]"
 *   sbt "runMain graft.BenchExtra jobs [namePrefix...]"
 *
 * Numbers printed here are cited in OPTIMIZATION_r06.md; the driver's own
 * artifact stays BENCH_r06.json via the frozen Bench main.
 */
object BenchExtra {

  /** Mirror of Bench.session(cpus, aqe = true) — the query-phase session. */
  private def session(cpus: Int): SparkSession = {
    val localDir = {
      val shm = java.nio.file.Paths.get("/dev/shm")
      if (java.nio.file.Files.isWritable(shm))
        java.nio.file.Files.createDirectories(shm.resolve("spark-local")).toString
      else System.getProperty("java.io.tmpdir")
    }
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-benchextra-$cpus")
      .config("spark.sql.extensions", "graft.sources.GraftExtensions")
      .config("spark.local.dir", localDir)
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.sql.files.maxPartitionBytes", (32L * 1024 * 1024).toString)
      .config("spark.io.compression.codec", "zstd")
      .config("spark.io.compression.zstd.level",
        sys.env.getOrElse("SPARK_GRAFT_ZSTD_LEVEL", "1"))
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.hadoop.parquet.writer.version", "v2")
      .config("spark.hadoop.parquet.block.size", (32L * 1024 * 1024).toString)
      .config("spark.hadoop.parquet.hadoop.vectored.io.enabled", "false")
      .config("spark.sql.parquet.columnarReaderBatchSize", "4096")
      .config("spark.sql.maxConcurrentOutputFileWriters", "0")
      .config("spark.sql.files.openCostInBytes", (4L * 1024 * 1024).toString)
      .config("spark.shuffle.file.buffer", "1m")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "8192")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("BX_AQE", "true"))
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("time")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = session(cpus)
    try mode match {
      case "time" =>
        val repeats = args.lift(1).flatMap(_.toIntOption).getOrElse(1)
        val prefixes = args.drop(if (args.lift(1).exists(_.toIntOption.isDefined)) 2 else 1)
        val sel = SparkEntry.queries.toSeq.sortBy(_._1)
          .filter { case (n, _) => prefixes.isEmpty || prefixes.exists(n.startsWith) }
        // JIT/session warmup on the first selected query, discarded
        sel.headOption.foreach { case (_, fn) =>
          try fn(spark, sfDir).count() catch { case _: Throwable => () }
        }
        val out = sel.map { case (name, fn) =>
          spark.sparkContext.setJobDescription(name)
          val samples = (1 to repeats).map { _ =>
            // cold-cache every sample: some queries use intra-query
            // .cache() barriers, and the CacheManager would satisfy a
            // repeat's identical plan from the previous run — the driver
            // times each query exactly once per session, so min-of-N must
            // not be flattered by warm caches
            spark.catalog.clearCache()
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            (System.nanoTime() - t0) / 1e9
          }
          spark.sparkContext.setJobDescription(null)
          val best = samples.min
          println(f"timed $name%-28s min=$best%7.3f s  samples=${samples.map(s => f"$s%.3f").mkString(",")}")
          name -> best
        }
        println("benchextra " + out.map { case (k, v) => f""""$k":$v%.3f""" }
          .mkString("{", ",", "}"))
      case "explain" =>
        val tag = args.lift(1).getOrElse("plan")
        val prefixes = args.drop(2)
        val dir = java.nio.file.Paths.get("plans/r06")
        java.nio.file.Files.createDirectories(dir)
        SparkEntry.queries.toSeq.sortBy(_._1)
          .filter { case (n, _) => prefixes.isEmpty || prefixes.exists(n.startsWith) }
          .foreach { case (name, fn) =>
            try {
              val df = fn(spark, sfDir)
              val plan = df.queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode)
              java.nio.file.Files.writeString(dir.resolve(s"${name}_$tag.txt"), plan)
              println(s"explained $name -> plans/r06/${name}_$tag.txt")
            } catch { case e: Throwable =>
              println(s"explain FAILED $name: ${e.toString.linesIterator.next()}")
            }
          }
      case "jobs" =>
        // job census: how much of a query's wall is Spark-job count ×
        // dispatch floor vs real compute (guide §1 — know where time goes)
        val prefixes = args.drop(1)
        val sel = SparkEntry.queries.toSeq.sortBy(_._1)
          .filter { case (n, _) => prefixes.isEmpty || prefixes.exists(n.startsWith) }
        sel.headOption.foreach { case (_, fn) =>
          try fn(spark, sfDir).count() catch { case _: Throwable => () } }
        val t0all = new java.util.concurrent.atomic.AtomicLong
        val nJobs = new java.util.concurrent.atomic.AtomicLong
        val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            starts.put(j.jobId, System.nanoTime())
          override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
            // boxed lookup: remove() of a missing id is null, and unboxing
            // it to a primitive Long would silently read as 0
            Option(starts.remove(j.jobId)).foreach { s =>
              t0all.addAndGet(System.nanoTime() - s); nJobs.incrementAndGet()
            }
        })
        sel.foreach { case (name, fn) =>
          spark.catalog.clearCache()
          nJobs.set(0); t0all.set(0)
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          Thread.sleep(200) // let listener drain
          println(f"jobs $name%-28s wall=$wall%6.2f jobs=${nJobs.get}%3d jobwall=${t0all.get / 1e9}%6.2f")
        }
      case other => sys.error(s"unknown mode $other")
    } finally spark.stop()
  }
}
