package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.gen.Synth
import graft.sources.GraftSql

/** SQL DELETE/UPDATE are copy-on-write over the files that hold a matched
  * row: those files, and only those, are rewritten, and the snapshot
  * summary says what the statement did. */
class DmlSpec extends SparkTestBase {

  private def fresh(tag: String, rows: Long = 6000L, files: Int = 12): TokenTable = {
    val t = TokenTable.create(tmpDir(s"graft-dml-$tag"), spark)
    t.append(Synth.table(spark, rows, 21L, 16, 64), targetFileCount = files, nowMs = 1L)
    t
  }

  private def entries(t: TokenTable): Map[String, Long] =
    t.log.dataFiles(t.log.current().get).map(f => f.path -> f.bytes).toMap

  /** one doc_id stored in each of the table's first `k` files */
  private def keysOfFiles(t: TokenTable, k: Int): Seq[(String, String)] =
    t.log.dataFiles(t.log.current().get).take(k).map { f =>
      f.path -> spark.read.parquet(t.log.absolute(f.path).toString)
        .select("doc_id").head().getString(0)
    }

  private def fp(df: DataFrame, cols: String*): java.math.BigDecimal =
    df.select(xxhash64(cols.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(sum(col("h"))).collect()(0).getDecimal(0)

  private def inList(keys: Seq[String]): String = keys.map(k => s"'$k'").mkString(", ")

  test("DELETE rewrites exactly the files holding a match; every other entry survives") {
    val t = fresh("del")
    GraftSql.register(spark, t, "graft_dml_del")
    val before = entries(t)
    val rows = t.describe()("rows").toLong
    val picked = keysOfFiles(t, 2)
    assert(picked.map(_._1).distinct.size === 2)
    spark.sql(s"DELETE FROM graft_dml_del WHERE doc_id IN (${inList(picked.map(_._2))})")
    val snap = t.log.current().get
    assert(snap.operation === "merge")
    assert(snap.summary("removed-files") === "2")
    assert(snap.summary("touched-files") === "2")
    assert(snap.summary("deleted-rows") === "2")
    assert(snap.summary("touched-ratio") === f"${2.0 / before.size}%.4f")
    assert(t.describe()("rows").toLong === rows - 2)
    val after = entries(t)
    val untouched = before -- picked.map(_._1)
    assert(untouched.forall { case (p, b) => after.get(p).contains(b) })
    assert(picked.forall(p => !after.contains(p._1)))
    assert(t.scan()._1.filter(col("doc_id").isin(picked.map(_._2): _*)).count() === 0)
  }

  test("DELETE or UPDATE matching nothing commits nothing") {
    val t = fresh("none", rows = 2000L, files = 4)
    GraftSql.register(spark, t, "graft_dml_none")
    val v = t.log.currentVersion().get
    spark.sql("DELETE FROM graft_dml_none WHERE n_tok < 0")
    spark.sql("UPDATE graft_dml_none SET n_tok = 1 WHERE doc_id = 'no-such-doc'")
    assert(t.log.currentVersion().get === v)
  }

  test("DELETE emptying every matched file commits the removal with no added file") {
    val t = fresh("all", rows = 2000L, files = 4)
    GraftSql.register(spark, t, "graft_dml_all")
    val web = t.log.dataFiles(t.log.current().get).filter(_.partition.get("source").contains("web"))
    assert(web.nonEmpty)
    val rows = t.describe()("rows").toLong
    spark.sql("DELETE FROM graft_dml_all WHERE source = 'web'")
    val snap = t.log.current().get
    assert(snap.summary("removed-files") === web.size.toString)
    assert(snap.summary("added-files") === "0")
    assert(snap.summary("deleted-rows") === web.map(_.rows).sum.toString)
    assert(t.describe()("rows").toLong === rows - web.map(_.rows).sum)
    assert(t.scan()._1.filter(col("source") === "web").count() === 0)
  }

  test("UPDATE keeps the row count and rewrites only the matched files") {
    val t = fresh("upd")
    GraftSql.register(spark, t, "graft_dml_upd")
    val before = entries(t)
    val rows = t.describe()("rows").toLong
    val picked = keysOfFiles(t, 3)
    val hit = col("doc_id").isin(picked.map(_._2): _*)
    val expected = fp(t.scan()._1.withColumn("tokens",
      when(hit, transform(col("tokens"), x => x * 2)).otherwise(col("tokens"))),
      "doc_id", "tokens", "n_tok", "source")
    spark.sql("UPDATE graft_dml_upd SET tokens = transform(tokens, x -> x * 2) " +
      s"WHERE doc_id IN (${inList(picked.map(_._2))})")
    val snap = t.log.current().get
    assert(snap.summary("removed-files") === "3")
    assert(snap.summary("updated-rows") === "3")
    assert(t.describe()("rows").toLong === rows)
    val after = entries(t)
    assert((before -- picked.map(_._1)).forall { case (p, b) => after.get(p).contains(b) })
    assert(fp(t.scan()._1, "doc_id", "tokens", "n_tok", "source") === expected)
  }

  test("DML over partition values with '+' and percent-escapes") {
    // the match job maps the scan's URI-encoded file paths back to manifest
    // entries: a '%'-escaped partition dir must decode, a '+' stay literal
    val t = TokenTable.create(tmpDir("graft-dml-plus"), spark)
    val weird = "web+crawl 1%"
    t.append(spark.range(400).select(
      concat(lit("d"), col("id")).as("doc_id"),
      array(lit(1), lit(2)).cast("array<int>").as("tokens"),
      lit(2).as("n_tok"),
      when(col("id") % 2 === 0, lit(weird)).otherwise(lit("a+b")).as("source")),
      targetFileCount = 8, nowMs = 1L)
    GraftSql.register(spark, t, "graft_dml_plus")
    spark.sql("DELETE FROM graft_dml_plus WHERE doc_id LIKE 'd1%'")
    spark.sql("UPDATE graft_dml_plus SET n_tok = 3 WHERE doc_id LIKE 'd2%'")
    val df = t.scan()._1
    val ids = spark.range(400).select(concat(lit("d"), col("id")).as("doc_id"))
    assert(df.count() === ids.filter(!col("doc_id").startsWith("d1")).count())
    assert(df.filter(col("n_tok") === 3).count() ===
      ids.filter(col("doc_id").startsWith("d2")).count())
    assert(df.filter(col("n_tok") === 3 && !col("doc_id").startsWith("d2")).count() === 0)
    assert(df.select("source").distinct().collect().map(_.getString(0)).toSet ===
      Set(weird, "a+b"))
    assert(t.log.dataFiles(t.log.current().get).flatMap(_.partition.get("source"))
      .toSet === Set(weird, "a+b"))
  }

  test("a condition that is NULL keeps or leaves the row; evolved columns carry through") {
    val t = TokenTable.create(tmpDir("graft-dml-evolve"), spark)
    t.append(Synth.table(spark, 3000, 31L, 16, 64), targetFileCount = 6, nowMs = 1L)
    t.addColumn("score", "int", nowMs = 2L)
    // post-evolution rows carry a score; the pre-evolution files read null
    t.append(Synth.table(spark, 1000, 32L, 16, 64)
      .withColumn("doc_id", concat(lit("e-"), col("doc_id")))
      .withColumn("score", pmod(xxhash64(col("doc_id")), lit(10)).cast("int")),
      targetFileCount = 3, nowMs = 3L)
    GraftSql.register(spark, t, "graft_dml_evolve")
    val cols = Seq("doc_id", "tokens", "n_tok", "source", "score")
    val pre = t.scan()._1.cache()
    assert(pre.filter(col("score").isNull).count() === 3000)

    spark.sql("DELETE FROM graft_dml_evolve WHERE score < 5")
    val kept = pre.filter(!coalesce(col("score") < 5, lit(false)))
    assert(t.scan()._1.count() === kept.count())
    assert(t.scan()._1.filter(col("score").isNull).count() === 3000)
    assert(fp(t.scan()._1, cols: _*) === fp(kept, cols: _*))

    // NULL score: not updated; evolved values of every row carried
    spark.sql("UPDATE graft_dml_evolve SET tokens = transform(tokens, x -> x + 1) " +
      "WHERE score >= 7")
    val upd1 = kept.withColumn("tokens", when(coalesce(col("score") >= 7, lit(false)),
      transform(col("tokens"), x => x + 1)).otherwise(col("tokens")))
    assert(fp(t.scan()._1, cols: _*) === fp(upd1, cols: _*))

    // assigning the evolved column on pre-evolution rows
    spark.sql("UPDATE graft_dml_evolve SET score = 42 WHERE n_tok < 24")
    val upd2 = upd1.withColumn("score",
      when(col("n_tok") < 24, lit(42)).otherwise(col("score")))
    assert(upd2.filter(col("n_tok") < 24 && col("doc_id").startsWith("e-") === false)
      .count() > 0)
    assert(fp(t.scan()._1, cols: _*) === fp(upd2, cols: _*))
    pre.unpersist()
  }
}
