package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile

import graft.gen.Synth
import graft.maint.{Merge, Rewrite, RewriteConfig}
import graft.sources.GraftSql

/**
 * The table's column-encoding policy (TokenTable.writeData) holds on every
 * write path: token ids are delta-bit-packed with no dictionary, doc_id
 * carries no dictionary, and source keeps its dictionary. The session adds
 * only the production session's format-v2 writer, which owns the
 * delta encodings; the dictionary choices come from the write itself.
 */
class EncodingSpec extends SparkTestBase {

  /** column path -> its chunk in every row group, read from the footer the
    * way ParquetStats reads it */
  private def chunks(table: TokenTable, rel: String): Map[String, Seq[ColumnChunkMetaData]] = {
    val conf = spark.sessionState.newHadoopConf()
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new HPath(table.log.absolute(rel).toString), conf))
    try reader.getFooter.getBlocks.asScala.toSeq
      .flatMap(_.getColumns.asScala)
      .groupBy(_.getPath.toDotString)
    finally reader.close()
  }

  private def hasDictionary(c: ColumnChunkMetaData): Boolean =
    c.hasDictionaryPage || c.getEncodings.asScala.exists(_.usesDictionary)

  /** runs `op` and checks the encodings of every file it added */
  private def checkNewFiles(table: TokenTable, what: String)(op: => Unit): Seq[String] = {
    def live: Map[String, Long] = table.log.dataFiles(table.log.current().get)
      .map(f => f.path -> f.rows).toMap
    val before = live.keySet
    op
    val added = live.filter { case (p, _) => !before(p) }.toSeq.sortBy(_._1)
    assert(added.nonEmpty, s"$what added no files")
    for ((f, rows) <- added) {
      val cs = chunks(table, f)
      val tokens = cs("tokens.list.element")
      assert(tokens.forall(c => !hasDictionary(c) &&
        c.getEncodings.contains(Encoding.DELTA_BINARY_PACKED)),
        s"$what: $f tokens ${tokens.map(_.getEncodings)}")
      assert(cs("doc_id").forall(c => !hasDictionary(c)),
        s"$what: $f doc_id ${cs("doc_id").map(_.getEncodings)}")
      // parquet drops a dictionary that is not smaller than the plain
      // pages, which for a single-valued column is only a one-row file
      if (rows > 1)
        assert(cs("source").forall(_.getEncodings.contains(Encoding.RLE_DICTIONARY)),
          s"$what: $f source ${cs("source").map(_.getEncodings)}")
    }
    assert(added.exists(_._2 > 1), s"$what added only one-row files")
    added.map(_._1)
  }

  test("every write path: tokens delta-packed without dictionary, doc_id " +
      "without dictionary, source dictionary-encoded") {
    spark.conf.set("parquet.writer.version", "v2")
    try writeEveryPath()
    finally spark.conf.unset("parquet.writer.version")
  }

  private def writeEveryPath(): Unit = {
    val t = TokenTable.create(tmpDir("graft-enc"), spark)
    val rows = 4000L
    checkNewFiles(t, "append") {
      t.append(Synth.table(spark, rows, seed = 5L, minTok = 16, maxTok = 128),
        targetFileCount = 24, nowMs = 1L)
    }
    checkNewFiles(t, "compact") {
      Rewrite.compact(t, spark,
        RewriteConfig(targetFileBytes = 256L * 1024, sortBy = "docid"), nowMs = 2L)
    }
    checkNewFiles(t, "zorder") {
      Rewrite.cluster(t, spark,
        RewriteConfig(targetFileBytes = 64L * 1024, sortBy = "zkey"), nowMs = 3L)
    }
    val merged = checkNewFiles(t, "merge") {
      Merge.run(t, spark, Synth.changeSet(spark, rows, seed = 5L,
        updates = 100, inserts = 50, deletes = 30, minTok = 16, maxTok = 128),
        nowMs = 4L)
    }
    // both writers ran: the copy-forward unit and the insert unit each
    // stage their own data/<dir>
    assert(merged.map(p => java.nio.file.Paths.get(p).getName(1)).distinct.size >= 2,
      merged.mkString(", "))
    checkNewFiles(t, "sql insert") {
      GraftSql.register(spark, t, "graft_enc")
      spark.sql(
        """INSERT INTO graft_enc
          |SELECT concat('ins-', doc_id) AS doc_id, tokens, n_tok, source
          |FROM graft_enc WHERE n_tok < 48""".stripMargin)
    }
  }
}
