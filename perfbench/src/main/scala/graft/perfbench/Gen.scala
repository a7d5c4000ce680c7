package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One generated sequence row (the engine's TokenRow shape). */
final case class SeqRow(doc_id: String, tokens: Array[Int], n_tok: Int, source: String)

/** One MERGE change-set row: `_op` is "upsert" or "delete". */
final case class ChangeRow(doc_id: String, tokens: Array[Int], n_tok: Int,
    source: String, _op: String)

/**
 * The benchmark's own input generator: every row is a pure function of
 * (seed, id, version), so the same seed gives the same inputs on every host
 * and at every parallelism, and the engine's own generator (graft.gen.Synth)
 * is never on the measured path or in the expected values.
 *
 * Shape: doc_id = 16 uniform hex chars + "-" + id (unique; the hex prefix
 * makes prefix predicates select 1/16 per character); n_tok log-uniform in
 * [16, 512]; tokens uniform over a 50,257-entry vocabulary; source
 * Zipf-skewed over eight labels, "web" hot at 45%.
 */
object Gen {
  val Vocab = 50257
  val MinTok = 16
  val MaxTok = 512
  val Sources: Array[String] =
    Array("web", "books", "code", "wiki", "news", "papers", "forums", "math")
  private val SourceCdf = Array(450, 600, 720, 810, 880, 930, 970, 1000)

  /** splitmix64 over (seed, id, salt). */
  def mix(seed: Long, id: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + id * 0xBF58476D1CE4E5B9L +
      (salt + 1) * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def unit(seed: Long, id: Long, salt: Long): Double =
    (mix(seed, id, salt) >>> 11).toDouble / (1L << 53).toDouble

  def docId(seed: Long, id: Long): String = f"${mix(seed, id, 1)}%016x-$id"

  def nTok(seed: Long, id: Long): Int =
    math.min(MaxTok, (MinTok * math.pow(MaxTok.toDouble / MinTok, unit(seed, id, 2))).toInt)

  def source(seed: Long, id: Long): String = {
    val r = java.lang.Math.floorMod(mix(seed, id, 3), 1000L).toInt
    Sources(SourceCdf.indexWhere(r < _))
  }

  /** `version` > 0 gives the same row new token content (an update). */
  def tokens(seed: Long, id: Long, n: Int, version: Int): Array[Int] = {
    val rnd = new SplittableRandom(mix(seed, id, 4L + version))
    Array.fill(n)(rnd.nextInt(Vocab))
  }

  def row(seed: Long, id: Long, version: Int = 0): SeqRow = {
    val n = nTok(seed, id)
    SeqRow(docId(seed, id), tokens(seed, id, n, version), n, source(seed, id))
  }

  /** Logical bytes of a row: 4 per token plus the UTF-8 string bytes. */
  def logicalBytes(docId: String, nTok: Int, source: String): Long =
    4L * nTok + docId.length + source.length

  /** Rows for ids in [from, until), generated on the executors. */
  def frame(spark: SparkSession, seed: Long, from: Long, until: Long,
      partitions: Int): DataFrame = {
    import spark.implicits._
    spark.range(from, until, 1, partitions).as[Long]
      .map(id => row(seed, id)).toDF()
  }

  /** The bulk change-set's action for base row `id`: 2% "upsert"
    * (new tokens), 0.5% "delete", else "" (untouched). */
  def bulkOp(seed: Long, id: Long): String = {
    val r = java.lang.Math.floorMod(mix(seed, id, 10), 10000L)
    if (r < 200) "upsert" else if (r < 250) "delete" else ""
  }

  /** Uniform bulk change-set over a base of ids [0, base): 2% updates,
    * 0.5% deletes (carrying the stored source, as the engine requires),
    * and 1% inserts of new ids [base, base + base / 100). */
  def bulkChanges(spark: SparkSession, seed: Long, base: Long,
      partitions: Int): DataFrame = {
    import spark.implicits._
    val touched = spark.range(0, base, 1, partitions).as[Long].flatMap { id =>
      bulkOp(seed, id) match {
        case "upsert" =>
          val s = row(seed, id, version = 1)
          Some(ChangeRow(s.doc_id, s.tokens, s.n_tok, s.source, "upsert"))
        case "delete" =>
          val s = row(seed, id)
          Some(ChangeRow(s.doc_id, s.tokens, s.n_tok, s.source, "delete"))
        case _ => None
      }
    }
    val inserts = spark.range(base, base + base / 100, 1, partitions).as[Long]
      .map { id =>
        val s = row(seed, id)
        ChangeRow(s.doc_id, s.tokens, s.n_tok, s.source, "upsert")
      }
    touched.union(inserts).toDF()
  }

  /** Content fingerprint of a TokenRow-shaped frame, one job: rows, the
    * sum of xxhash64 over every column (as decimal(38,0): ANSI mode makes a
    * long overflow an error), distinct doc_ids, n_tok sum, logical bytes
    * and the token-only hash sum. */
  def fingerprint(df: DataFrame): Fingerprint = {
    val r = df.agg(
      count(lit(1)),
      sum(xxhash64(col("doc_id"), col("tokens"), col("n_tok"), col("source"))
        .cast("decimal(38,0)")),
      countDistinct(col("doc_id")),
      sum(col("n_tok").cast("long")),
      sum(col("n_tok").cast("long") * 4 + length(col("doc_id")) + length(col("source"))),
      sum(xxhash64(col("tokens")).cast("decimal(38,0)")))
      .collect()(0)
    def long(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    def dec(i: Int) = Option(r.getDecimal(i)).map(BigDecimal(_)).getOrElse(BigDecimal(0))
    Fingerprint(long(0), dec(1), long(2), long(3), long(4), dec(5))
  }
}

/** `tokHashSum` is the sum of xxhash64 over the token arrays alone. */
final case class Fingerprint(rows: Long, hashSum: BigDecimal, distinctIds: Long,
    nTokSum: Long, logicalBytes: Long, tokHashSum: BigDecimal) {
  def unique: Boolean = distinctIds == rows
}
