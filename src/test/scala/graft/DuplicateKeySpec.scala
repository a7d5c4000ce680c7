package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.gen.Synth
import graft.maint.Merge
import graft.sources.GraftSql

/** doc_id uniqueness is not enforced on append, so a table can hold
  * several copies of one key after two raw appends of overlapping rows.
  * SQL DELETE/UPDATE are predicate-based and must treat every copy like
  * any other row; `Merge.run` dedups a duplicate-key change-set
  * deterministically and leaves the table key-unique. */
class DuplicateKeySpec extends SparkTestBase {

  private def base: DataFrame =
    Synth.table(spark, 2000, seed = 7L, minTok = 8, maxTok = 32)

  /** every even-slot key again, with different tokens */
  private def overlap: DataFrame =
    base.filter(pmod(xxhash64(col("doc_id")), lit(2)) === 0)
      .withColumn("tokens", transform(col("tokens"), x => x + 1))

  private def dupTable(tag: String): TokenTable = {
    val t = TokenTable.create(tmpDir(s"graft-dupkey-$tag"), spark)
    t.append(base, targetFileCount = 6, nowMs = 1L)
    t.append(overlap, targetFileCount = 3, nowMs = 2L)
    t
  }

  /** (doc_id, token hash) multiset, duplicates included */
  private def facts(df: DataFrame): Seq[(String, Long)] =
    df.select(col("doc_id"), xxhash64(col("tokens")).as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq

  private def dupKeys(f: Seq[(String, Long)]): Int =
    f.groupBy(_._1).count(_._2.size > 1)

  test("DELETE removes every copy of a matching duplicated doc_id") {
    val t = dupTable("del")
    GraftSql.register(spark, t, "graft_dupdel")
    val hit = pmod(xxhash64(col("doc_id")), lit(5)) === 0
    val all = base.unionByName(overlap)
    val expected = facts(all.filter(!hit))
    assert(dupKeys(facts(all.filter(hit))) > 0, "no duplicated key matches")
    spark.sql("DELETE FROM graft_dupdel WHERE pmod(xxhash64(doc_id), 5) = 0")
    val after = t.scan()._1
    assert(after.filter(hit).count() === 0)
    assert(facts(after) === expected)
  }

  test("UPDATE rewrites every copy of a matching duplicated doc_id") {
    val t = dupTable("upd")
    GraftSql.register(spark, t, "graft_dupupd")
    val hit = pmod(xxhash64(col("doc_id")), lit(3)) === 0
    val all = base.unionByName(overlap)
    assert(dupKeys(facts(all.filter(hit))) > 0, "no duplicated key matches")
    val expected = facts(all.withColumn("tokens",
      when(hit, transform(col("tokens"), x => x + 9)).otherwise(col("tokens"))))
    spark.sql("UPDATE graft_dupupd SET tokens = transform(tokens, x -> x + 9) " +
      "WHERE pmod(xxhash64(doc_id), 3) = 0")
    assert(t.describe()("rows").toLong === all.count())
    assert(facts(t.scan()._1) === expected)
  }

  test("Merge.run dedups duplicate-key change-sets deterministically; keys unique") {
    def fresh(tag: String): TokenTable = {
      val t = TokenTable.create(tmpDir(s"graft-dupkey-$tag"), spark)
      t.append(base, targetFileCount = 8, nowMs = 1L)
      t
    }
    // two conflicting upserts for every selected key: the least token
    // fingerprint wins, whatever order the change-set arrives in
    val sel = base.filter(pmod(xxhash64(col("doc_id")), lit(7)) === 0)
    val v1 = sel.withColumn("tokens", transform(col("tokens"), x => x + 1))
    val v2 = sel.withColumn("tokens", transform(col("tokens"), x => x + 2))
    val winner = v1.as("a").join(v2.as("b"), "doc_id").select(col("doc_id"),
      when(xxhash64(col("a.tokens")) <= xxhash64(col("b.tokens")),
        col("a.tokens")).otherwise(col("b.tokens")).as("tokens"))
    val expected = facts(base.as("t").join(winner.as("w"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("w.tokens"), col("t.tokens")).as("tokens")))
    val a = fresh("merge-a")
    val b = fresh("merge-b")
    Merge.run(a, spark, v1.unionByName(v2).withColumn("_op", lit("upsert")), nowMs = 2L)
    Merge.run(b, spark, v2.unionByName(v1).withColumn("_op", lit("upsert")), nowMs = 2L)
    val fa = facts(a.scan()._1)
    assert(fa === expected)
    assert(facts(b.scan()._1) === fa)
    assert(dupKeys(fa) === 0, "doc_id uniqueness lost")
  }
}
