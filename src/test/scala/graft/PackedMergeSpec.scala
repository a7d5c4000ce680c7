package graft

import org.apache.spark.sql.functions._

import graft.gen.Synth
import graft.maint.Merge

/**
 * Copy-forward MERGE when Spark packs many small files into one scan split:
 * a task reads whole files of several sources, so it writes one file per
 * source it holds. With more sources per task than concurrent writers the
 * writer falls back to its sort. Either way the result must equal the
 * semantic reference and every output file must stay single-source.
 */
class PackedMergeSpec extends SparkTestBase {

  /** runs `f` under the production session's split and writer settings */
  private def withProductionWrites[A](f: => A): A = {
    val keys = Seq(
      "spark.sql.maxConcurrentOutputFileWriters" -> "4",
      "spark.sql.files.maxPartitionBytes" -> (32L * 1024 * 1024).toString)
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("packed copy-forward merge: equals the reference, single-source " +
      "outputs, fewer files than touched inputs") {
    val t = TokenTable.create(tmpDir("graft-packed"), spark)
    t.append(Synth.table(spark, 2400L, seed = 11L, minTok = 8, maxTok = 32),
      targetFileCount = 48, nowMs = 1L)
    val v0 = t.log.current().get
    val baseFiles = t.log.dataFiles(v0)
    val sources = baseFiles.flatMap(_.partition.get("source")).distinct
    assert(baseFiles.size >= 16 && sources.size >= 5,
      s"${baseFiles.size} files over ${sources.size} sources")

    // ~10% updates and ~5% deletes, spread over every file
    val base = t.scan()._1
    val bucket = pmod(xxhash64(col("doc_id"), lit(3L)), lit(20))
    val changes = base.filter(bucket < 2)
      .withColumn("tokens", transform(col("tokens"), x => x + 1))
      .withColumn("_op", lit("upsert"))
      .unionByName(base.filter(bucket === 2).withColumn("_op", lit("delete")))
      .cache()
    val expected = Merge.mergeFrames(t.scan(version = Some(v0.version))._1,
      Merge.dedupSource(changes)).cache()
    val nExpected = expected.count()

    withProductionWrites(Merge.run(t, spark, changes, nowMs = 2L))

    val after = t.scan()._1.cache()
    assert(after.count() === nExpected)
    assert(after.select("doc_id").distinct().count() === nExpected)
    assert(after.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(after).count() === 0)

    val v1 = t.log.current().get
    val basePaths = baseFiles.map(_.path).toSet
    val outFiles = t.log.dataFiles(v1).filterNot(f => basePaths(f.path))
    val touched = v1.summary("removed-files").toInt
    for (f <- outFiles) {
      val part = f.partition("source")
      val st = f.stats("source")
      assert(st.min === part && st.max === part, s"${f.path}: $st")
    }
    assert(outFiles.nonEmpty && outFiles.size < touched,
      s"${outFiles.size} output files for $touched touched inputs")
    Seq(after, expected, changes).foreach(_.unpersist())
  }
}
