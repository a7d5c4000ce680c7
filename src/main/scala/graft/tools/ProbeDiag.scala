package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft._
import graft.gen.Synth

/** Scaling-diagnosis harness (not part of the driver contract): builds a
  * bench-shaped table once, then re-runs the no-write scan+agg probe at a
  * given thread count, reporting wall time and JVM GC time so the inverse
  * scaling seen in BENCH_r01 can be attributed (GC vs scheduling vs IO). */
object ProbeDiag {

  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  private def session(cpus: Int, maxPartitionBytes: Long): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"probe-diag-$cpus")
      .config("spark.local.dir", "/dev/shm/spark-local")
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.sql.files.maxPartitionBytes", maxPartitionBytes.toString)
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.locality.wait", "0ms")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val root = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val mpb = sys.env.getOrElse("SPARK_GRAFT_MPB", (8L * 1024 * 1024).toString).toLong
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("/dev/shm/spark-local"))
    val spark = session(cpus, mpb)
    mode match {
      case "build" =>
        val rows = args(2).toLong
        val t = TokenTable.create(root, spark, 1L)
        val df = Synth.tableDistributed(spark, rows, 42L,
          files = 256, minTok = 16, maxTok = 512)
        t.appendPrepared(df, nowMs = 1L)
        println(s"built: ${t.describe()}")
      case "probe" =>
        val t = TokenTable.load(root, spark)
        val dict = graft.maint.Rewrite.sourceDict(
          t.log.current().get, t.log.dataFiles(t.log.current().get))
        import graft.cluster.ZOrder
        for (i <- 1 to 4) {
          val g0 = gcMs; val t0 = System.nanoTime()
          t.scan()._1
            .withColumn("zkey", ZOrder.zkey(col("source"), col("n_tok"),
              col("doc_id"), dict))
            .withColumn("h", xxhash64(col("doc_id"), col("tokens")))
            .groupBy("source")
            .agg(sum(col("n_tok")).as("toks"),
              sum(col("h").cast("decimal(38,0)")).as("fp"),
              min(col("zkey")), max(col("zkey")), count(lit(1)))
            .collect()
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"probe cpus=$cpus mpb=$mpb run=$i sec=$sec%.2f gc_ms=${gcMs - g0}")
        }
      case "probe_nozkey" =>
        val t = TokenTable.load(root, spark)
        for (i <- 1 to 4) {
          val g0 = gcMs; val t0 = System.nanoTime()
          t.scan()._1
            .withColumn("h", xxhash64(col("doc_id"), col("tokens")))
            .groupBy("source")
            .agg(sum(col("n_tok")).as("toks"),
              sum(col("h").cast("decimal(38,0)")).as("fp"), count(lit(1)))
            .collect()
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"probe_nozkey cpus=$cpus mpb=$mpb run=$i sec=$sec%.2f gc_ms=${gcMs - g0}")
        }
      case "mergeprof" =>
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onStageCompleted(
                sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
              val si = sc.stageInfo
              val m = si.taskMetrics
              println(f"stage ${si.stageId}%4d tasks=${si.numTasks}%4d " +
                f"wall=${(si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1e3}%7.2fs " +
                f"cpu=${m.executorCpuTime / 1e9}%8.1fs run=${m.executorRunTime / 1e3}%8.1fs " +
                f"gc=${m.jvmGCTime / 1e3}%6.1fs " +
                f"shW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB " +
                f"shR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
                f"spill=${m.diskBytesSpilled / 1e6}%8.1fMB ${si.name.take(60)}")
            }
          })
        // expects a post-zorder table at root; times each merge phase
        import graft.maint.{Merge, Rewrite, RewriteConfig}
        val t0 = TokenTable.load(root, spark)
        if (t0.log.current().get.operation != "zorder") {
          Rewrite.compact(t0, spark,
            RewriteConfig(targetFileBytes = 8L * 1024 * 1024, sortBy = "docid"), 2L)
          Rewrite.cluster(t0, spark,
            RewriteConfig(targetFileBytes = 8L * 1024 * 1024, sortBy = "zkey"), 3L)
        }
        val t = TokenTable.load(root, spark)
        val files = t.log.dataFiles(t.log.current().get)
        val rows = files.map(_.rows).sum
        val nChange = math.max(1000L, rows / 50)
        val src = Merge.dedupSource(Synth.changeSet(spark, rows, 42L,
          nChange, nChange / 2, nChange / 4, 16, 512)).cache()
        def tm(tag: String)(f: => Any): Unit = {
          val g0 = gcMs; val s0 = System.nanoTime(); f
          println(f"mergeprof $tag sec=${(System.nanoTime() - s0) / 1e9}%.2f gc_ms=${gcMs - g0}")
        }
        tm("src-materialize")(src.count())
        val paths = files.map(f => t.log.absolute(f.path).toString)
        val target = spark.read.schema(TokenRow.schema).parquet(paths: _*)
        tm("target-count")(target.agg(count(lit(1))).collect())
        val merged = Merge.mergeFrames(target, src)
        tm("smj-count")(merged.agg(count(lit(1))).collect())
        tm("smj-count-again")(merged.agg(count(lit(1))).collect())
        val out3 = t.log.newDataSubdir()
        tm("write-fused") {
          Merge.fusedMergeWrite(target, src, files, 8L * 1024 * 1024, out3)
        }
        val out4 = t.log.newDataSubdir()
        tm("write-fused-2") {
          Merge.fusedMergeWrite(target, src, files, 8L * 1024 * 1024, out4)
        }
        if (sys.env.get("SPARK_GRAFT_PROF_ALL").contains("1")) {
          val out1 = t.log.newDataSubdir()
          tm("write-flat")(TokenTable.writeData(merged, out1))
        }
        src.unpersist()

      case "probe_count" =>
        val t = TokenTable.load(root, spark)
        for (i <- 1 to 4) {
          val g0 = gcMs; val t0 = System.nanoTime()
          t.scan()._1.agg(sum(col("n_tok"))).collect()
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"probe_count cpus=$cpus mpb=$mpb run=$i sec=$sec%.2f gc_ms=${gcMs - g0}")
        }
    }
    spark.stop()
  }
}
